"""Deduplication suite over ``documents`` — EXT E1/E2 + north-star.

Four tiers, each a different cost/recall point for 100 TB corpora:

1. **Exact** (content hash): one scan + one exchange on the 256-bit
   hash. The canonical first pass — removes byte-identical documents.
2. **Normalized exact** (fingerprint): same plan over md5 of
   whitespace/case-normalized text (see ``operators.text``).
3. **N-gram Jaccard** (blocked, exact similarity): token-set Jaccard
   within small blocks (here lang×source). Exact but quadratic per
   block — at scale, blocks must be bounded (LSH gives the bound).
4. **MinHash-LSH** (approximate): per-doc signature (k hash perms of
   the shingle set) → band buckets → candidate pairs only where a band
   collides → verify with true Jaccard. Shuffle volume is
   O(docs × bands), never O(docs²). This is the scale path.
   SimHash (hamming-distance banding) is the cheaper cousin for
   near-identical text.

All four are pure DataFrame ops — the signatures are computed with
native higher-order array expressions (xxhash64 per shingle, min over
affine reshashes), so everything stays in whole-stage codegen. Every
query here is full-strength oracle-checked: the DuckDB oracles replay
the exact xxhash64 construction via the engine-shared ``_h60`` helper
(built in this module), so MinHash/SimHash values — not just row
counts — are verified cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_to_csv_spark.functions.textfn import fingerprint_col, tokens_col
from parquet_to_csv_spark.sources.tables import load_table

# 32 permutations × 4-row bands = 8 bands ⇒ LSH s-curve threshold
# ≈ (1/8)^(1/4) ≈ 0.59 Jaccard. Each "permutation" is xxhash64 of the
# shingle hash with the permutation index as seed column — independent,
# deterministic, and computed inside whole-stage codegen.
_N_PERM = 32
_BAND_ROWS = 4


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: keep the first doc_id per sha-256 of the raw text."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(F.col("text"), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
    )


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Iteration-boundary lineage cut for the iterative graph ops
    (connected components, star contraction, the PageRank kernel,
    k-core). Default: ``localCheckpoint``
    — fast, blocks live in executor memory, right for interactive and
    single-job use. If the session sets ``spark.graft.checkpointDir``,
    a RELIABLE ``checkpoint`` to that directory is used instead:
    executor loss then replays from the checkpoint files rather than
    failing the round — the fault-tolerant mode a multi-hour 100 TB
    clustering job wants. Same plan either way; the choice is a conf,
    not a code path.
    """
    spark = df.sparkSession
    ckdir = spark.conf.get("spark.graft.checkpointDir", None)
    if ckdir:
        spark.sparkContext.setCheckpointDir(ckdir)
        return df.checkpoint()
    return df.localCheckpoint()


# Node-grain relations up to this many rows are broadcast inside the
# iterative graph loops (CC, PageRank, NN-Descent); their per-round
# joins read localCheckpoints, which carry no statistics, so the
# planner would otherwise sort-merge-join and re-shuffle the
# edge-grain side every round. Larger graphs keep the shuffle plan.
_BROADCAST_NODES_MAX = 5_000_000


def ppb_pagerank(edges: DataFrame, nodes: DataFrame, iters: int) -> DataFrame:
    """The integer parts-per-billion PageRank recurrence shared by the
    near-dup, weighted, personalized and TextRank operators.

    ``edges(src, dst, w)`` is the directed (both ways for an undirected
    graph) weighted edge relation; ``nodes(v, wdeg, e)`` carries each
    vertex's out-weight sum ``wdeg`` and teleport mass ``e`` in ppb
    (1e9 everywhere for plain PageRank, the seed share on seeds and 0
    elsewhere for personalized). Starting at ``pr = e``, each round is
    contribution ``(pr * w) div wdeg``, summed per destination into
    ``inc``, then 15 % of ``e`` plus 85 % of ``inc``, each an integer
    ``div 100``: exact longs on any engine, partitioning or iteration
    order, so the DuckDB oracles replay the rounds bit-for-bit.

    One join + one groupBy per round, lineage cut per round, no driver
    action in the loop. The node side is broadcast when the vertex
    count fits :data:`_BROADCAST_NODES_MAX`, so the edge relation is
    never exchanged inside the loop. Returns ``nodes`` (every column
    kept) with the final ``pr``.
    """
    nodes = nodes.transform(_cut_lineage)
    _b = F.broadcast if nodes.count() <= _BROADCAST_NODES_MAX else (lambda df: df)
    pr = nodes.withColumn("pr", F.col("e"))
    for _ in range(iters):
        contrib = (
            _b(pr.select(F.col("v").alias("src"), "pr", "wdeg"))
            .join(edges, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("(pr * w) div wdeg")).alias("inc"))
        )
        pr = (
            nodes.join(_b(contrib), nodes.v == contrib.dst, "left")
            .select(
                nodes["*"],
                F.expr(
                    "(15 * e) div 100"
                    " + (85 * coalesce(inc, cast(0 as bigint))) div 100"
                ).cast("long").alias("pr"),
            )
            .transform(_cut_lineage)
        )
    return pr


def _materialize_once(df: DataFrame) -> DataFrame:
    """Branch-shared materialization WITHOUT the session cache manager.

    ``persist()`` registers the canonicalized plan with the
    CacheManager, which then substitutes the cached rows into ANY
    later query that builds an equal subtree — even after the input
    files were rewritten (stale serves), and the entry leaks until an
    explicit unpersist a lazy API can never place. A lazy
    ``localCheckpoint`` materializes the RDD once for reuse across
    this query's branches, is invisible to plan matching, and its
    blocks are released with the RDD by the ContextCleaner.
    """
    return df.localCheckpoint(eager=False)


def _distinct_tokens(df: DataFrame) -> DataFrame:
    # measured round 12: spreading this scan HURTS its consumers (the
    # tokbase build's wall is the df join + collect_list exchanges, not
    # tokenization) — left pipelined in the scan task deliberately
    return df.select(
        "doc_id", "lang", "source", F.array_distinct(tokens_col("text")).alias("toks")
    )


def _token_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once/read-many RARE-FIRST token-set base for every prefix-
    filter consumer: (doc_id, lang, source, toks ordered by ascending
    global df then token, sz). Built once per corpus salt (one df
    groupBy + one explode/join/collect), then every blocked or
    unblocked build at any threshold is a parquet scan — the bench
    previously paid the reorder 2-3×.

    Committed through ``layout.claim_artifact`` (put-if-absent DONE
    manifest): processes share one build, and a builder crash
    mid-write can never leave a directory a later call would trust."""
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    def _build(stage: str) -> None:
        toks = _distinct_tokens(load_table(spark, sf_dir, "documents"))
        df_tbl = (
            toks.select(F.explode("toks").alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        base = (
            toks.select(
                "doc_id", "lang", "source", F.explode("toks").alias("t")
            )
            .join(df_tbl, "t")
            .groupBy("doc_id", "lang", "source")
            .agg(
                F.array_sort(F.collect_list(F.struct("df", "t"))).alias("st")
            )
            .select(
                "doc_id",
                "lang",
                "source",
                F.expr("transform(st, x -> x.t)").alias("toks"),
                F.size("st").alias("sz"),
            )
        )
        base.write.parquet(stage)

    key = "tokbase_" + source_salt(sf_dir, "documents")
    return spark.read.parquet(claim_artifact(spark, key, _build))


# ---------------------------------------------------------------------------
# Materialized edge relation (round-3): the graph/report family
# (dup_clusters, taint closure, novelty, cluster sizes, canonical gap,
# annotation batch, pagerank, triangles, k-core, LPA, assortativity,
# clustering coefficient, review queue, evidence) all consume the SAME
# verified Jaccard pair relation. Rebuilt per query it was ~5 s × 8
# standalone plans at sf0.1; at 100 TB the rebuild IS the job. The
# production shape is build-once/write-parquet/serve-many — this is
# that shape: the first consumer pays the prefix-filter join and
# commits the pairs to parquet; every later consumer (any query, any
# session, any process sharing the artifact root) is a plain parquet
# scan with full pushdown.
# Parquet round-trips the 4dp-rounded jaccard double exactly, so
# results are hash-identical to the direct build.
# ---------------------------------------------------------------------------

# lowest Jaccard threshold any consumer in this workload requests —
# the materialized build happens here so every consumer shares one build
_BUILD_FLOOR = 0.5


def dedup_edges(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Write-once/read-many near-dup edge table: ``ngram_jaccard_pairs``
    at ``threshold``, committed to parquet through
    ``layout.claim_artifact`` on first use (per corpus content salt and
    build threshold) and served as a scan thereafter.

    Edges for a LOWER threshold are a superset of those for a higher
    one, so one build serves every consumer at or above its threshold
    (parquet min/max skips most of the file for high-threshold reads).
    The build threshold is ``min(threshold, _BUILD_FLOOR)`` —
    ``_BUILD_FLOOR`` names the lowest threshold any consumer in this
    workload requests (novelty/annotation at 0.5), so the first family
    member to run pays ONE slightly-larger prefix-filter join instead
    of the workload paying two (measured: one 0.5 build ≈ 6 s at
    sf0.1 vs 0.8 + 0.5 builds ≈ 10 s). A deployment whose consumers
    all sit at 0.8+ would set the floor to 0.8 — it's a knob, not a
    hardcode.

    The artifact is shared across processes (atomic DONE manifest,
    crash-safe); a reaped directory is rebuilt on the next call.
    """
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    key_t = int(round(threshold * 10000))
    # CONTENT key, not path key: the salt folds in the documents
    # parquet's (mtime, size), so rewriting the fixture mid-process
    # invalidates every cached entry instead of serving stale edges,
    # and the md5 directory name is reproducible across processes
    # (Python's hash() is per-process salted).
    salt = source_salt(sf_dir, "documents")
    build_t = min(key_t, int(round(_BUILD_FLOOR * 10000)))

    def _build(stage: str) -> None:
        ngram_jaccard_pairs(spark, sf_dir, build_t / 10000.0).write.parquet(stage)

    path = claim_artifact(spark, f"edges_t{build_t}_{salt}", _build)
    return spark.read.parquet(path).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8,
    blocked: bool = True,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via prefix filtering (the canonical
    set-similarity join), blocked by lang×source.

    ``blocked=False`` drops the lang×source equi-keys and keeps only
    the prefix-token join plus the size-ratio (length-band) prune —
    the HIGH-RECALL audit path: still an inverted-index join (never
    all-pairs), but candidates now cross block boundaries, so pairs a
    mislabeled lang/source would hide are found. Costlier (prefix
    postings collide corpus-wide instead of per block); production
    keeps blocking, audits run this to MEASURE what blocking loses
    (see :func:`blocking_recall_report`). Served as a build-once
    artifact by :func:`_unblocked_edges`.

    Prefix-filter theorem: J(A,B) >= t forces an overlap α >= t·|A|
    (and symmetrically t·|B|); with both token sets in one global sort
    order, the smallest common token must therefore sit within the
    first |A| − ⌈t·|A|⌉ + 1 tokens of A *and* the corresponding prefix
    of B — else all α common tokens would have to fit in a suffix
    shorter than α. So an equi-join of exploded *prefix* tokens finds
    every qualifying pair: an inverted-index join, O(docs × prefix)
    shuffle instead of O(block²) comparisons — the formulation that
    keeps exact Jaccard viable when one language bucket holds 10^8
    docs. Candidates are deduped to (doc_a, doc_b) before one exact
    verify pass over the full sets.

    Float soundness: prefix length uses ``sz − floor(t·sz) + 1`` —
    under float error floor can only under-shoot, *lengthening* the
    prefix (extra candidates, never a miss); ``ceil`` could overshoot
    and lose pairs. The size-ratio prune keeps an epsilon of slack for
    the same reason.

    Token order is GLOBAL ASCENDING DOCUMENT FREQUENCY (ties by
    token), the AllPairs/PPJoin discipline: the theorem holds for any
    one total order, and rare-first puts the rarest tokens in every
    prefix, so posting lists — and the candidate blow-up they drive —
    collapse. Measured here on the UNBLOCKED sf0.1 build: 43.7 s with
    lexicographic prefixes → seconds with frequency ordering; the
    blocked build gains too. The df relation is vocabulary-sized (one
    groupBy), the reorder one explode+join+collect per build, both
    amortized behind ``_materialize_once``.
    """
    base = _token_base(spark, sf_dir)

    # Asymmetric AllPairs/PPJoin prefixes (round 12, guide §2.3 —
    # shuffle fewer rows). Candidates are generated size-ordered
    # (|A| ≤ |B|, doc_id tie-break): the SMALLER side only indexes its
    # MID-PREFIX of length |A| − ⌊(2t/(1+t))·|A|⌋ + 1, because a true
    # pair's overlap α ≥ t/(1+t)·(|A|+|B|) ≥ (2t/(1+t))·|A| when
    # |A| ≤ |B|, so the first common token (shared global order) sits
    # within that prefix of A; the LARGER side keeps the full probe
    # prefix |B| − ⌊t·|B|⌋ + 1 (α ≥ t·|B| holds because |A| ≥ t·|B|
    # for any true pair). At t=0.8 the index side explodes ~0.11·|A|
    # tokens instead of ~0.2·|A| — collision rows, the exchange, and
    # the distinct all shrink. floor(c·sz − 1e-9): the −1e-9 guards a
    # double product landing ON an integer from above, which can only
    # LENGTHEN the prefix (extra candidates, never a miss).
    plen = (F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    c2 = 2.0 * threshold / (1.0 + threshold)
    plen_idx = (
        F.col("sz") - F.floor(F.lit(c2) * F.col("sz") - F.lit(1e-9)) + 1
    ).cast("int")
    # Join on xxhash64 of the prefix token, not the token string
    # (guide §2.3 — shuffle fewer bytes, and sort/hash longs instead of
    # strings in the SMJ). A hash collision between two DIFFERENT
    # tokens can only ADD candidate rows (a superset), and every
    # candidate is exact-verified downstream, so the output relation is
    # unchanged by construction.
    def _pref(plen_col):
        return base.select(
            "doc_id", "lang", "source", "sz",
            F.posexplode(
                F.transform(
                    F.slice("toks", F.lit(1), plen_col),
                    lambda s: F.xxhash64(s),
                )
            ).alias("pidx", "ptok"),
        )

    pref_probe = _pref(plen)
    pref_idx = _pref(plen_idx)
    a = pref_idx.alias("a")
    b = pref_probe.alias("b")
    # PPJoin positional filter (Xiao et al. 2008, round-11 optimization;
    # round-12: INTEGER arithmetic — the advisor flagged the absolute
    # 1e-9 slack as a theoretical recall hole once α grows past ~1e7):
    # J ≥ t forces an overlap α ≥ t/(1+t)·(|A|+|B|). For the FIRST
    # common token of a true pair (positions pa, pb in the shared global
    # order) no common token precedes it on either side, so the true
    # overlap is bounded by 1 + min(|A|−pa−1, |B|−pb−1); requiring that
    # bound to reach α prunes candidate rows BEFORE the exchange +
    # distinct (33.0M → 12.6M in round 11; the index prefix above cuts
    # further). Sound for ANY collision row: a true pair's first-token
    # row always satisfies the bound, so at least one row per true pair
    # survives into the distinct. Integer form: ub ≥ t/(1+t)·s ⟺
    # (10^4+tbp)·ub ≥ tbp·s with tbp = ⌊t·10^4⌋ ≤ t — exact at any
    # corpus size, floor keeps the filter an under-pruner. Longs
    # throughout (int·int would overflow past ~2^31/tbp tokens).
    import math as _math

    tbp = int(_math.floor(threshold * 10000))
    overlap_ub = (
        F.lit(1)
        + F.least(
            F.col("a.sz") - 1 - F.col("a.pidx"),
            F.col("b.sz") - 1 - F.col("b.pidx"),
        )
    ).cast("long")
    size_order = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cond = (
        (F.col("a.ptok") == F.col("b.ptok"))
        & size_order
        # J >= t ⇒ |A| ≥ t·|B| (|A| ≤ |B| makes this the binding side);
        # integer form with the same floor'd tbp — under-prunes only
        & (F.col("a.sz").cast("long") * 10000 >= F.lit(tbp) * F.col("b.sz"))
        & (
            F.lit(10000 + tbp) * overlap_ub
            >= F.lit(tbp) * (F.col("a.sz").cast("long") + F.col("b.sz"))
        )
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
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )

    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    # |A∪B| = |A|+|B|−|A∩B| — one array pass per pair instead of two
    # (the arrays are distinct-element sets by construction).
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = F.when(union > 0, inter / union.cast("double"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shingles_from_tokens(toks, n: int = 3):
    """Word n-gram shingles of a *materialized* token-array column →
    one xxhash64 per shingle (distinct).

    ``toks`` must be a plain column reference, not the tokenization
    expression itself: expressions referenced inside higher-order
    lambdas are re-evaluated per element (no CSE across the lambda
    boundary), so inlining ``split(...)`` here costs O(tokens) splits
    of the full text per row — measured 9× slower at sf0.1. The
    two-projection shape below keeps exactly one ``split`` in the plan
    (CollapseProject declines to merge duplicated non-cheap exprs).
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.array_distinct(F.transform(shingles, lambda s: F.xxhash64(s)))


def _shingle_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id + distinct shingle-hash array, tokenizing exactly once.

    Measured round 12: spreading the scan here is a wash for the
    MinHash consumers (+0.15 s on minhash_lsh_pairs — the downstream
    explode/agg re-exchanges anyway), so the scan stays pipelined."""
    tok = docs.select("doc_id", tokens_col("text").alias("toks"))
    return tok.select("doc_id", _shingles_from_tokens(F.col("toks"), n).alias("sh"))


def minhash_signatures(docs: DataFrame, n: int = 3, precomputed: bool = False) -> DataFrame:
    """Per-doc MinHash signature: 32 independent per-shingle hashes
    (xxhash64 seeded by permutation index), min-aggregated per doc.

    ``precomputed=True``: ``docs`` already carries the shingle-hash
    array as ``sh`` (e.g. a persisted signature table)."""
    sh = docs if precomputed else _shingle_df(docs, n)
    # Shape matters at scale: explode(shingles) → 32 codegen'd `min`
    # aggregates (xxhash64 of the shingle hash with a distinct seed per
    # permutation), with map-side partial aggregation. Interpreted
    # higher-order lambdas over the arrays benchmarked ~2× slower.
    ex = sh.select("doc_id", F.explode("sh").alias("h"))
    mins = [F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}") for i in range(_N_PERM)]
    agg = ex.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(_N_PERM)]).alias("sig")
    )


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """E2: MinHash-LSH candidate generation + exact-Jaccard verify.

    explode to (band_id, band_hash) → group — only colliding bands meet
    in the shuffle → distinct candidate pairs → verify true Jaccard on
    the shingle sets. Deterministic (fixed permutation constants).
    """
    docs = load_table(spark, sf_dir, "documents")
    # Materialize shingle sets once: they feed three plan branches
    # (signatures, both sides of the verify join) — without a persist,
    # Spark recomputes the shingling+hashing per branch. At warehouse
    # scale this is a real signature table, not a cache.
    sh_df = _materialize_once(_shingle_df(docs))
    sigs = minhash_signatures(sh_df, precomputed=True)
    n_bands = _N_PERM // _BAND_ROWS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[F.col("sig")[i * _BAND_ROWS + j].cast("string") for j in range(_BAND_ROWS)])).alias("bh"),
                )
                for i in range(n_bands)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sa = sh_df.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh_df.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union.cast("double"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _h60(t) -> "F.Column":
    """60-bit token hash BOTH engines compute bit-identically:
    Spark ``conv(substr(sha2(t,256),1,15),16,10)`` ==
    DuckDB ``CAST('0x'||substr(sha256(t),1,15) AS BIGINT)``.

    xxhash64 would be ~2× cheaper but is engine-private — a shared hash
    is what lets the driver gate check the SimHash tier at full oracle
    strength (exact signature + hamming equality, not rows-only)."""
    return F.conv(F.substring(F.sha2(t, 256), 1, 15), 16, 10).cast("long")


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc: per-token sha256-derived hash (``_h60``),
    each bit votes ±1 weighted by token frequency; majority sign → bit.

    Shape: hash every token once into a materialized array, then 60
    array-local ``aggregate`` passes count the set bits per position
    (votes_i > 0  ⇔  2·count_set_i > n). All array-local — no
    explode/shuffle. This replaced a zip_with fold that allocated a
    vote array *per token* (measured 4.4× slower at sf0.1 —
    allocation, not arithmetic, was the cost; an earlier comparison
    claiming otherwise was invalid because ``count()`` let Catalyst
    prune the signature expression entirely)."""
    from parquet_to_csv_spark.sources.tables import spread_scan

    tok = spread_scan(docs).select(
        "doc_id", tokens_col("text").alias("toks")
    ).filter(F.size("toks") > 0)
    hashed = tok.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.transform("toks", lambda t: _h60(t)).alias("hs"),
    )

    def bit_votes(i: int):
        count_set = F.aggregate(
            "hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("long"),
        )
        return F.when(
            2 * count_set - F.col("n") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    acc = bit_votes(0)
    for i in range(1, 60):
        acc = acc.bitwiseOR(bit_votes(i))
    return hashed.select("doc_id", acc.alias("simhash"))


def simhash_pairs(spark: SparkSession, sf_dir: str, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the 60 bits into 4×15-bit chunks —
    pigeonhole guarantees any pair within hamming distance 3 collides
    on at least one chunk — then verify exact hamming distance. The
    banded result therefore EQUALS the all-pairs hamming≤3 relation by
    construction (that is the oracle), while shuffling only
    O(docs × 4 chunks)."""
    docs = load_table(spark, sf_dir, "documents")
    # persist: the self-join reads the signature relation twice.
    sigs = _materialize_once(simhash_signatures(docs))
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftrightunsigned(F.col("simhash"), i * 15).bitwiseAND(F.lit(0x7FFF)).alias("ch"),
                )
                for i in range(4)
            ])
        ).alias("cc"),
    ).select("doc_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.ch").alias("ch"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


#: round counts of the most recent CC run in this process, keyed by
#: phase — observability for tests and the benchmark.
LAST_CC_ROUNDS: dict = {"minlabel": 0, "star": 0}

# min-label rounds connected_components tries before switching to star
# contraction; near-dup components are shallow (diameter ~2-4)
_CC_PROBE_ROUNDS = 8


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over an (src, dst) edge relation.

    Min-label propagation probes for up to ``_CC_PROBE_ROUNDS`` (8)
    rounds — near-dup clusters are shallow (pairs verified against one
    pivot, diameter ~2-4), so the probe converges and IS the answer at
    one shuffle per hop. If the probe does NOT converge the component
    diameter exceeds the probe depth, and the implementation switches
    to :func:`_cc_star_contraction` (Kiveris et al.
    large-star/small-star, O(log²) rounds on ANY graph shape) — a deep
    chain costs probe+log² rounds instead of diameter rounds. Results
    are identical on both paths, pinned by the star-contraction parity
    test and the deep-chain test.

    Min-label rounds: every vertex starts labeled with its own id;
    each round takes the min of its own and its neighbors' labels;
    stop at fixpoint. The per-round driver action IS the convergence
    test (an iterative algorithm, not a plan smell).

    Returns (v, cluster_id) with cluster_id = min vertex id reachable.
    """
    LAST_CC_ROUNDS.update({"minlabel": 0, "star": 0})
    both = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("w")))
        .distinct()
        # localCheckpoint (not persist) on every iteration boundary:
        # persist caches data but keeps the logical plan, so each round's
        # plan nests the whole history and Catalyst re-analysis grows
        # quadratically — measured 78 s for 20 rounds over 38 k edges at
        # sf0.1. Truncating lineage makes each round O(round data) flat.
        # On a cluster, executor loss invalidates a localCheckpoint —
        # set spark.graft.checkpointDir to switch every cut to a
        # reliable checkpoint(dir) (_cut_lineage).
        .transform(_cut_lineage)
    )
    labels = (
        both.select(F.col("u").alias("v"))
        .distinct()
        .withColumn("l", F.col("v"))
        .transform(_cut_lineage)
    )
    # Size-gated label broadcast (round 12, guide §3.1): the label
    # relation is NODE-grain while ``both`` is EDGE-grain; both sides
    # of the per-round joins come out of localCheckpoints (LogicalRDD,
    # no stats), so the planner sort-merge-joined them and re-shuffled
    # the FULL edge relation every round. When the vertex count (one
    # cheap count over the checkpointed init labels) fits the
    # threshold, broadcast the node side — the edge relation is then
    # never exchanged inside the loop. A billion-node deployment
    # exceeds the threshold and keeps the shuffle plan; the gate is the
    # data's size, not the cluster's.
    bcast_nodes = labels.count() <= _BROADCAST_NODES_MAX
    _b = F.broadcast if bcast_nodes else (lambda df: df)
    converged = False
    for i in range(min(max_iter, _CC_PROBE_ROUNDS)):
        nbr = (
            both.join(_b(labels), both.w == labels.v)
            .groupBy("u")
            .agg(F.min("l").alias("nl"))
        )
        stepped = (
            labels.join(_b(nbr), labels.v == nbr.u, "left")
            .select(
                F.col("v"),
                F.col("l").alias("old_l"),
                F.least(F.col("l"), F.coalesce(F.col("nl"), F.col("l"))).alias("l"),
            )
            .transform(_cut_lineage)
        )
        labels = stepped.select("v", "l")
        LAST_CC_ROUNDS["minlabel"] = i + 1
        if stepped.filter(F.col("old_l") != F.col("l")).limit(1).count() == 0:
            converged = True
            break
    if not converged:
        # diameter exceeds the probe depth — deep graph; switch to the
        # O(log²)-round contraction instead of paying diameter rounds
        return _cc_star_contraction(edges, max_iter)
    return labels.select(F.col("v"), F.col("l").alias("cluster_id"))


def _cc_star_contraction(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — the web-scale drop-in for :func:`connected_components`
    when component DIAMETER is large: min-label propagation needs
    diameter-many rounds, star contraction converges in O(log²)
    rounds on any graph shape.

    large-star(u): every neighbor v > u re-attaches to
    m = min(N(u) ∪ {u}); small-star(u): every neighbor v ≤ u (and u)
    attaches to m. Both steps are one groupBy(u) + one re-emit — no
    joins at all — and strictly decrease the potential Σ(v − root(v)),
    so the edge multiset reaches a fixpoint of star edges
    (v, component-min). Labels read directly off the stars.

    Returns (v, cluster_id) over every non-isolated vertex — the same
    contract as the min-label loop, pinned identical by the
    partition-count invariance test and
    ``test_star_contraction_parity_on_real_neardup_graph``.
    """
    both = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("w")))
        .filter(F.col("u") != F.col("w"))
        .distinct()
        .transform(_cut_lineage)
    )
    verts = both.select(F.col("u").alias("v")).distinct().transform(_cut_lineage)
    e = both
    prev_sig = None
    for _round_i in range(max_iter):
        LAST_CC_ROUNDS["star"] = _round_i + 1
        # large-star: every neighbor v > u re-attaches to
        # m = min(N(u) ∪ {u}). Per-u mins by groupBy (map-side
        # combine), re-emit by join — no collect_list, so a hot star
        # root never materializes its whole component in one task.
        mins = e.groupBy("u").agg(F.min("w").alias("mn")).select(
            "u", F.least(F.col("mn"), F.col("u")).alias("m")
        )
        ls = (
            e.join(mins, "u")
            .filter(F.col("w") > F.col("u"))
            .select(F.col("w").alias("u"), F.col("m").alias("w"))
        )
        e = (
            ls.union(ls.select(F.col("w").alias("u"), F.col("u").alias("w")))
            .filter(F.col("u") != F.col("w"))
            .distinct()
            .transform(_cut_lineage)
        )
        # small-star: every neighbor v < u (and u itself) attaches to
        # m = min of u's smaller neighborhood
        smaller = e.filter(F.col("w") < F.col("u"))
        smins = smaller.groupBy("u").agg(F.min("w").alias("m"))
        ss = (
            smaller.join(smins, "u")
            .filter(F.col("w") != F.col("m"))
            .select(F.col("w").alias("u"), F.col("m").alias("w"))
            .union(smins.select(F.col("u"), F.col("m").alias("w")))
        )
        e = (
            ss.union(ss.select(F.col("w").alias("u"), F.col("u").alias("w")))
            .filter(F.col("u") != F.col("w"))
            .distinct()
            .transform(_cut_lineage)
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold, not sum: ANSI mode overflows summing full-range
            # hashes; xor is order-independent and overflow-free
            F.expr("bit_xor(xxhash64(u, w))").alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixpoint edges are stars (v, component-min) both ways; label =
    # min neighbor, roots label themselves
    labels = e.groupBy("u").agg(F.min("w").alias("m")).select(
        F.col("u").alias("v"),
        F.least(F.col("u"), F.col("m")).alias("cluster_id"),
    )
    return verts.join(labels, "v", "left").select(
        "v", F.coalesce(F.col("cluster_id"), F.col("v")).alias("cluster_id")
    )


def _dup_clusters_direct(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """The direct (un-materialized) cluster build — see
    :func:`dup_clusters` for the serving wrapper."""
    pairs = dedup_edges(spark, sf_dir, threshold).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(pairs)
    return cc.select(
        F.col("v").alias("doc_id"),
        "cluster_id",
        (F.col("v") == F.col("cluster_id")).cast("boolean").alias("is_canonical"),
    )


def dup_clusters(spark: SparkSession, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate clustering + canonical selection — the last step
    of a dedup pipeline: pairs (ngram_jaccard_pairs, exact-verified)
    → connected components → one canonical doc per cluster (min doc_id;
    swap in a quality argmax for production keeps).

    Output: (doc_id, cluster_id, is_canonical) for every doc that has
    at least one near-duplicate.

    Round 12 (guide §2.4 — remove repeated work outright): the label
    relation is a write-once/read-many artifact exactly like the edge
    table it is built from. NINE registry queries consume this
    relation (loss weighting, leakage splits/certificates, savings
    projection, golden records, BM25 collapse, …) and each used to
    re-run the iterative CC loop — ~2.4 s of per-round driver latency
    per consumer at sf0.1, and at 100 TB the re-run IS the job. Same
    ``claim_artifact`` discipline as :func:`dedup_edges` (content salt,
    put-if-absent DONE manifest, crash-safe), keyed by threshold and
    corpus. The labels are deterministic (min reachable id)
    and parquet round-trips longs/booleans exactly, so results are
    hash-identical to the direct build."""
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    key = (
        f"clusters_t{int(round(threshold * 10000))}_"
        + source_salt(sf_dir, "documents")
    )

    def _build(stage: str) -> None:
        _dup_clusters_direct(spark, sf_dir, threshold).write.parquet(stage)

    return spark.read.parquet(claim_artifact(spark, key, _build))


def _gram_strings(toks, n: int):
    """Distinct word n-gram strings (same slice semantics as the hashed
    shingler: docs shorter than n yield their single truncated gram)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def contamination_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    benchmark_source: str = "src0",
) -> DataFrame:
    """Benchmark-contamination check: training docs sharing at least one
    word n-gram with a document of the held-out/benchmark corpus — the
    standard decontamination pass of an LLM training pipeline.

    Plan: the benchmark side (small by nature) explodes its distinct
    grams and BROADCASTS; the training side explodes and hash-joins on
    the gram string — an inverted-index probe, O(train-grams) with no
    training-side shuffle before the pair aggregation. Output counts
    are exact integers (oracle-hashable).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", tokens_col("text").alias("toks")
    )
    grams = tok.select(
        "doc_id", "source", F.explode(_gram_strings(F.col("toks"), n)).alias("gram")
    )
    bench = grams.filter(F.col("source") == benchmark_source).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    train = grams.filter(F.col("source") != benchmark_source).select(
        F.col("doc_id").alias("doc_id"), "gram"
    )
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def containment_pairs_quotes(
    spark: SparkSession, sf_dir: str, threshold: float = 0.7
) -> DataFrame:
    """Directed token-set containment C(A,B) = |A∩B| / |A| ≥ t — quote
    / subset detection (is doc A substantially contained in doc B?),
    the asymmetric cousin of the Jaccard join that near-dup filters
    miss (a paragraph quoted inside a much longer doc has LOW Jaccard
    but HIGH containment).

    Asymmetric prefix filter: the overlap must be ≥ t·|A|, so A only
    explodes its ``|A| − ⌊t·|A|⌋ + 1`` prefix (sorted-token order) —
    but B has no size bound (the container may be huge), so the B side
    is a full inverted index. Shuffle cost O(docs_A × prefix +
    docs_B × tokens): this is the canonical containment-join layout
    (the B-side index is what a real corpus search would already have
    materialized). Size prune: |A∩B| ≤ |B| forces |B| ≥ t·|A|, applied
    with float slack (under-pruning only, never a miss).
    """
    toks = _distinct_tokens(load_table(spark, sf_dir, "documents"))
    base = toks.select(
        "doc_id",
        "lang",
        "source",
        F.array_sort("toks").alias("toks"),
        F.size("toks").alias("sz"),
    )
    base = _materialize_once(base)
    plen = (F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    # (round 12: tried joining on xxhash64 of the token as in
    # ngram_jaccard_pairs — measured +0.4 s here: the full B-side index
    # pays one extra hash per token and the string join was not the
    # wall. Kept on strings deliberately.)
    pref_a = base.select(
        "doc_id", "lang", "source", "sz",
        F.explode(F.slice("toks", F.lit(1), plen)).alias("tok"),
    )
    index_b = base.select(
        "doc_id", "lang", "source", "sz", F.explode("toks").alias("tok")
    )
    eps = 1e-9
    a = pref_a.alias("a")
    b = index_b.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - F.lit(eps)),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    cont = F.when(
        F.size("toks_a") > 0, inter / F.size("toks_a").cast("double")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def neardup_triangles(spark: SparkSession, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    """Triangle count per vertex over the exact-verified near-dup graph
    — the local-clustering signal that separates a dense duplicate
    cluster from a chain of borderline pairs.

    Distributed shape (node-iterator join): edges are kept oriented
    (a < b); e1(a,b) ⋈ e2(b,c) forms each open wedge once (a<b<c), and
    one more hash join against the edge set closes it — every triangle
    found exactly once, cost O(Σ wedge counts), never all-pairs. The
    per-vertex count unions the three corner roles."""
    edges = dedup_edges(spark, sf_dir, threshold).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).persist()
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
    )
    tri = wedges.join(
        edges.select(F.col("a").alias("ta"), F.col("b").alias("tc")),
        (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
    ).select("a", "b", "c")
    per_vertex = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_vertex


def editdist_neardup_pairs(
    spark: SparkSession, sf_dir: str, pfx_len: int = 24
) -> DataFrame:
    """Edit-distance (Levenshtein ≤ 1) near-dup pairs on a fixed-length
    document prefix via DELETION signatures (the SymSpell construction):
    every string registers itself plus each single-character deletion;
    two strings within distance 1 MUST share a signature (equal /
    deletion / insertion directly, substitution through the common
    double-deletion), so an equi-join on signatures finds a candidate
    superset and one exact ``levenshtein`` verify pass closes it.

    Scale shape: the index is a ×(pfx_len+1) row expansion joined on
    the signature hash — O(n·L) like every inverted index here, never
    all-pairs; candidates carry only true signature collisions. The
    distance-2 extension (double deletions, ×L²/2) is the same plan
    with a bigger constant — the standard SymSpell trade.
    """
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select("doc_id", F.expr(f"left(text, {pfx_len})").alias("pfx"))
    sigs = p.select(
        "doc_id",
        "pfx",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("pfx")),
                    F.expr(
                        "transform(sequence(1, length(pfx)), "
                        "i -> concat(substring(pfx, 1, i-1), substring(pfx, i+1, 1000)))"
                    ),
                )
            )
        ).alias("sig"),
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pfx").alias("pfx_a"),
            F.col("b.pfx").alias("pfx_b"),
        )
        .distinct()
    )
    dist = F.levenshtein(F.col("pfx_a"), F.col("pfx_b"))
    return (
        cand.select("doc_a", "doc_b", dist.alias("dist"))
        .filter(F.col("dist") <= 1)
    )


def neardup_pagerank(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, iters: int = 2
) -> DataFrame:
    """PageRank (2 Lloyd-style iterations) over the exact-verified
    near-dup graph — ranks the 'hub' documents whose text overlaps the
    most neighbors, the centrality signal a curation pipeline uses to
    pick which member of a duplicate neighborhood to keep (vs the
    min-id canonical of ``dup_clusters``).

    :func:`ppb_pagerank` with unit edge weights and uniform teleport
    ``e = 1e9``: contribution = pr div degree, update = 0.15 +
    0.85·incoming in exact integer ppb, so the DuckDB oracle replays
    both iterations as two CTE levels.
    """
    pairs = dedup_edges(spark, sf_dir, threshold).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .withColumn("w", F.lit(1))
        .transform(_cut_lineage)
    )
    nodes = edges.groupBy("src").agg(F.count("*").alias("wdeg")).select(
        F.col("src").alias("v"), "wdeg",
        F.lit(1_000_000_000).cast("long").alias("e"),
    )
    return ppb_pagerank(edges, nodes, iters).select(
        F.col("v").alias("doc_id"), F.col("wdeg").alias("deg"),
        F.col("pr").alias("pr_ppb"),
    )


def clustering_coefficient(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Local clustering coefficient per vertex of the near-dup graph —
    degree, triangle count, and cc = 2T/(d(d-1)) — the signal that
    separates a dense duplicate CLUSTER (cc → 1) from a hub of
    borderline pairs (cc → 0), deciding whether to collapse a whole
    group to one canonical doc or keep reviewing pairs.

    Same oriented node-iterator triangle join as
    :func:`neardup_triangles` (each triangle closed once via one hash
    join against the edge set, cost O(wedges)); degrees come from one
    union + groupBy over the SAME persisted edge relation, so the
    expensive exact-Jaccard edge build runs once. cc in exact integer
    ppm (NULL for degree < 2 — undefined, not zero).
    """
    edges = (
        dedup_edges(spark, sf_dir, threshold)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .persist()
    )
    deg = (
        edges.select(F.col("a").alias("doc_id"))
        .unionAll(edges.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
    )
    tri = wedges.join(
        edges.select(F.col("a").alias("ta"), F.col("b").alias("tc")),
        (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
    ).select("a", "b", "c")
    per_vertex = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_vertex, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.expr("2 * coalesce(n_triangles, 0) * 1000000 div (degree * (degree - 1))"),
            ).alias("cc_ppm"),
        )
    )


def label_propagation(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, rounds: int = 2
) -> DataFrame:
    """Community detection on the near-dup graph via synchronous label
    propagation: every node starts as its own label; each round it
    adopts the MAJORITY label among its neighbors (min label on ties —
    the tie-break that makes LPA deterministic, its classic flaw
    otherwise). Two rounds separate template families sharing a few
    border edges — a different cut than connected components (which
    merges anything reachable).

    Per round: one edge-relation expansion to (node, nbr), one join
    against current labels, one grouped count, one relational argmax
    (max count, then min label). The edge build (exact-Jaccard join)
    runs ONCE and persists; each round adds two small exchanges on
    node id. No driver-side loop state — ``rounds`` unrolls into the
    one lazy plan, localCheckpoint-free at this depth.
    """
    edges = (
        dedup_edges(spark, sf_dir, threshold)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .persist()
    )
    nbrs = edges.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        edges.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    labels = nbrs.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(rounds):
        cnt = (
            nbrs.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        mx = cnt.groupBy("node").agg(F.max("c").alias("mc"))
        labels = (
            cnt.join(mx, "node")
            .filter(F.col("c") == F.col("mc"))
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("community"))


def neardup_graph_assortativity(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Degree assortativity of the near-dup graph — the graph-health
    scalar that distinguishes a few giant template clusters (high-degree
    nodes attached to high-degree nodes, r → 1) from scattered pairwise
    dups (r ≤ 0): it decides whether cluster-then-canonicalize or
    plain pair-pruning is the right dedup strategy for a corpus.

    Edges REUSE :func:`ngram_jaccard_pairs` (prefix-filtered exact
    Jaccard — no new quadratic anywhere). Degrees are one explode +
    groupBy; each edge picks up both endpoint degrees via two joins on
    the node key; the mirrored-edge Pearson sums are exact longs
    (symmetry ⇒ Sx=Sy, Sxx=Syy — computed once), and the final r is
    one fixed IEEE-double pipeline over identical longs in both
    engines, reported in micro-units.
    """
    edges = dedup_edges(spark, sf_dir, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    deg = (
        edges.select(F.col("doc_a").alias("node"))
        .unionAll(edges.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("deg_b"))
    s = (
        edges.join(da, "doc_a")
        .join(db, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.col("deg_a") + F.col("deg_b")).alias("sx"),
            F.sum(
                F.col("deg_a") * F.col("deg_a") + F.col("deg_b") * F.col("deg_b")
            ).alias("sxx"),
            F.sum(F.col("deg_a") * F.col("deg_b")).alias("sab"),
        )
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    num = (
        "(2.0 * CAST(m AS DOUBLE) * (2.0 * CAST(sab AS DOUBLE))"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    den = (
        "(2.0 * CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return (
        s.join(n_nodes)
        .filter(F.expr(f"{den} <> 0.0"))
        .select(
            "n_nodes",
            F.col("m").alias("n_edges"),
            F.expr(f"CAST(floor({num} / {den} * 1000000.0) AS BIGINT)").alias(
                "assortativity_micro"
            ),
        )
    )


def weighted_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold_milli: int = 500
) -> DataFrame:
    """IDF-WEIGHTED Jaccard near-dup pairs: shared RARE tokens count
    more than shared stopwords — the soft-dedup refinement that plain
    Jaccard lacks (two docs sharing only boilerplate words are not
    near-dups; two docs sharing a rare 8-token name probably are).

    ``simW(A,B) = Σ_{t∈A∩B} idf_t / Σ_{t∈A∪B} idf_t`` with
    ``idf_t = round(ln(N/df_t)·1000)`` — integer milli-nats, so every
    per-doc and per-pair weight is an exact long sum and the final
    ratio is floored integer milli. Fully relational: presence
    relation → df → idf join; per-doc weights by one groupBy;
    shared-pair weights from the token-keyed self-join within the
    (lang, source) blocks the exact-Jaccard op uses; union weight =
    wA + wB − shared. No float similarity anywhere.

    Scale note: the token self-join fans out ∝ Σ_t df_t² within
    blocks — the same posting-list hazard as any set-similarity join;
    at 100 TB the prefix-filter bound from ngram_jaccard_pairs applies
    unchanged (order postings by idf, join only top-weight prefixes).
    """
    docs = load_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(tokens_col("text"))).alias("t"),
    )
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_total")))
    idf = (
        pres.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(n_docs)
        .select(
            "t",
            F.round(
                F.log(F.col("n_total").cast("double") / F.col("df")) * 1000, 0
            ).cast("long").alias("idf_milli"),
        )
    )
    weighted = pres.join(idf, "t")
    doc_w = weighted.groupBy("doc_id").agg(F.sum("idf_milli").alias("w"))
    a = weighted.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", "t", "idf_milli"
    )
    b = weighted.select(
        F.col("doc_id").alias("doc_b"), "lang", "source", "t"
    )
    shared = (
        a.join(b, ["lang", "source", "t"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("idf_milli").alias("w_shared"), F.count(F.lit(1)).alias("n_shared"))
    )
    wa = doc_w.select(F.col("doc_id").alias("doc_a"), F.col("w").alias("w_a"))
    wb = doc_w.select(F.col("doc_id").alias("doc_b"), F.col("w").alias("w_b"))
    return (
        shared.join(wa, "doc_a")
        .join(wb, "doc_b")
        .withColumn(
            "wjaccard_milli",
            F.expr("w_shared * 1000 div (w_a + w_b - w_shared)"),
        )
        .filter(F.col("wjaccard_milli") >= threshold_milli)
        .select("doc_a", "doc_b", "n_shared", "wjaccard_milli")
    )


def incremental_dedup_report(
    spark: SparkSession, sf_dir: str, history_pct: int = 80
) -> DataFrame:
    """Incremental append dedup — the DAILY shape of corpus dedup: a
    new delta batch arrives and must be deduplicated against the
    already-ingested history WITHOUT rescanning it pairwise. The
    history/delta split is the deterministic md5 bucket (stand-in for
    the ingest-date partition a production corpus has).

    Per source: delta size, docs whose content hash already exists in
    history (drop), extra copies within the delta itself (keep first
    by doc_id), and the surviving unique count — with the drop rate in
    exact ppm. Plan: history collapses to DISTINCT hashes before the
    join (at 100 TB: a bloom/broadcast of hashes, never the text), the
    delta joins once on the hash key; within-delta dups are one
    groupBy + min. ``n_new_unique + n_dup_vs_history + n_dup_in_delta
    = n_delta`` by construction — the gate checks the arithmetic.
    """
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.sha2(F.col("text"), 256).alias("h"),
        md5_bucket(F.col("doc_id"), 100).alias("bucket"),
    )
    history_hashes = (
        docs.filter(F.col("bucket") < history_pct).select("h").distinct()
    )
    delta = docs.filter(F.col("bucket") >= history_pct)
    vs_hist = delta.join(history_hashes, "h", "left_semi").select(
        "doc_id", "source"
    )
    fresh = delta.join(history_hashes, "h", "left_anti")
    first_per_hash = fresh.groupBy("h").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("copies")
    )
    in_delta_dups = (
        fresh.join(first_per_hash, "h")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", "source")
    )
    base = delta.groupBy("source").agg(F.count(F.lit(1)).alias("n_delta"))
    vh = vs_hist.groupBy("source").agg(F.count(F.lit(1)).alias("n_dup_vs_history"))
    dd = in_delta_dups.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_dup_in_delta")
    )
    return (
        base.join(vh, "source", "left")
        .join(dd, "source", "left")
        .select(
            "source",
            "n_delta",
            F.coalesce("n_dup_vs_history", F.lit(0)).alias("n_dup_vs_history"),
            F.coalesce("n_dup_in_delta", F.lit(0)).alias("n_dup_in_delta"),
            (
                F.col("n_delta")
                - F.coalesce("n_dup_vs_history", F.lit(0))
                - F.coalesce("n_dup_in_delta", F.lit(0))
            ).alias("n_new_unique"),
            F.expr(
                "(coalesce(n_dup_vs_history, 0) + coalesce(n_dup_in_delta, 0))"
                " * 1000000 div n_delta"
            ).alias("drop_ppm"),
        )
    )


def dedup_strategy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup strategy decision table — before running corpus dedup at
    100 TB, which tier pays? One report compares what each level
    removes: byte-exact copies, normalization-level copies (case/
    whitespace only), and near-duplicates (exact Jaccard ≥ 0.8), each
    with affected docs and their token volume.

    Tiers are cumulative-exclusive (a doc counts at its STRONGEST
    matching tier), so the rows decompose the corpus's redundant mass:
    exact ⊂ normalized ⊂ near-dup, no double counting. Exact and
    normalized cost one hash aggregation each; the near-dup tier
    reuses the prefix-filtered Jaccard join — nothing new is quadratic.

    Each row carries ``blocking_recall_ppm`` — MEASURED, not assumed:
    the hash tiers aggregate globally (no blocking ⇒ 10⁶ by
    construction), while the near-dup row takes the E235 sampled
    blocking-recall audit's 10⁶ − missed_ppm, so the decision table
    states the recall its own near-dup tier actually achieves under
    lang×source blocking (E399 ``blocking_recall_report`` is the
    full-corpus exact version).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("exact_h"),
        fingerprint_col("text").alias("norm_h"),
        F.size(tokens_col("text")).cast("long").alias("nt"),
    )

    def dup_members(col: str) -> DataFrame:
        firsts = docs.groupBy(col).agg(
            F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("sz")
        )
        return (
            docs.join(firsts, col)
            .filter((F.col("sz") >= 2) & (F.col("doc_id") != F.col("keep")))
            .select("doc_id", "nt")
        )

    exact_dups = dup_members("exact_h")
    norm_dups = dup_members("norm_h").join(
        exact_dups.select("doc_id"), "doc_id", "left_anti"
    )
    pairs = dedup_edges(spark, sf_dir, threshold=0.8)
    near_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .join(docs.select("doc_id", "nt"), "doc_id")
        .join(dup_members("norm_h").select("doc_id"), "doc_id", "left_anti")
        .join(exact_dups.select("doc_id"), "doc_id", "left_anti")
    )

    def tier_row(name: str, members: DataFrame) -> DataFrame:
        return members.agg(
            F.lit(name).alias("tier"),
            F.count(F.lit(1)).alias("n_docs_removable"),
            F.coalesce(F.sum("nt"), F.lit(0)).alias("tokens_removable"),
        )

    full = F.lit(1000000).cast("long")
    measured = F.broadcast(
        blocking_recall_audit(spark, sf_dir).select(
            (full - F.col("missed_ppm")).alias("_recall")
        )
    )
    out = tier_row("exact", exact_dups).withColumn("blocking_recall_ppm", full)
    out = out.unionAll(
        tier_row("normalized", norm_dups).withColumn(
            "blocking_recall_ppm", full
        )
    )
    out = out.unionAll(
        tier_row("near_dup_j08", near_docs)
        .crossJoin(measured)
        .withColumnRenamed("_recall", "blocking_recall_ppm")
    )
    return out


def taint_closure_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Contamination taint closure: if ANY member of a near-dup
    cluster comes from a restricted source, every member is tainted —
    the license/benchmark-contamination policy that direct source
    filtering misses (a restricted document's near-copy under a clean
    source label still leaks it into training).

    Reuses the verified cluster relation (exact-Jaccard pairs →
    connected components); the restricted-source rule here is the
    fixture stand-in ``source LIKE '%3'``. Per cluster: size, directly
    tainted members, and the members tainted ONLY via closure — the
    documents a naive source filter would wrongly keep. Propagation is
    one groupBy(max) + one join back, both on cluster_id.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("source").like("%3").cast("int").alias("tainted")
    )
    # labels served from the dup_clusters artifact (same CC over the
    # same edge relation — identical content, one scan instead of a
    # re-run of the iterative loop)
    members = dup_clusters(spark, sf_dir, threshold).select(
        "doc_id", "cluster_id"
    ).join(docs, "doc_id")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tainted").alias("n_tainted_direct"),
            F.max("tainted").alias("cluster_tainted"),
        )
        .withColumn(
            "n_tainted_via_closure",
            F.when(
                F.col("cluster_tainted") == 1,
                F.col("n_docs") - F.col("n_tainted_direct"),
            ).otherwise(F.lit(0)),
        )
        .filter(F.col("cluster_tainted") == 1)
        .select(
            "cluster_id", "n_docs", "n_tainted_direct", "n_tainted_via_closure"
        )
    )


def novelty_scores(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Per-document novelty against everything ingested BEFORE it
    (doc_id order = arrival order): 1000 − max Jaccard(milli) to any
    earlier document — the streaming-ingest signal that demotes
    rehashed content before it enters the corpus.

    Derived from the verified exact-Jaccard pair relation at a lower
    threshold (0.5 — novelty needs the mid-similarity band, not just
    near-dups): each pair charges its similarity to its LATER member,
    one groupBy(max) produces every scored doc. Docs with no earlier
    match above threshold simply don't appear (their novelty is
    bounded below by 1 − threshold, which the threshold choice makes
    explicit). Jaccard quantizes to integer milli before the max, so
    ordering is exact.
    """
    pairs = dedup_edges(spark, sf_dir, threshold=threshold)
    charged = pairs.select(
        F.greatest("doc_a", "doc_b").alias("doc_id"),
        F.least("doc_a", "doc_b").alias("earlier_doc"),
        F.round(F.col("jaccard") * 1000, 0).cast("long").alias("j_milli"),
    )
    return (
        charged.groupBy("doc_id")
        .agg(
            F.max("j_milli").alias("max_j_milli"),
            F.min_by("earlier_doc", F.struct(-F.col("j_milli"), F.col("earlier_doc"))).alias(
                "nearest_earlier"
            ),
            F.count(F.lit(1)).alias("n_earlier_matches"),
        )
        .select(
            "doc_id",
            "nearest_earlier",
            "n_earlier_matches",
            (F.lit(1000) - F.col("max_j_milli")).alias("novelty_milli"),
        )
    )


def annotation_batch(
    spark: SparkSession, sf_dir: str, per_band: int = 3
) -> DataFrame:
    """Threshold-calibration annotation sampler: a deterministic,
    band-stratified draw of candidate pairs across the similarity
    spectrum (0.5–0.6, 0.6–0.7, …) — the batch a human labels before
    anyone picks "0.8" as the dedup threshold. Stratifying by band is
    what makes the labels informative: uniform sampling drowns the
    decision boundary in easy extremes.

    Pairs come from the verified exact-Jaccard relation at 0.5; bands
    are integer milli-division; the within-band draw orders by md5 of
    the pair key — uniform-random-like but reproducible across
    engines/runs, and extending ``per_band`` EXTENDS the sample
    (nested, same property as the bucket samplers).

    Scale shape (round 3): two-level EXACT top-k. Ranking directly by
    a ≤5-partition band window would funnel every surviving pair into
    ≤5 tasks; instead the first ``row_number`` is hashed on
    (band, md5-first-byte) — 256-way parallel per band — keeping each
    sub-bucket's ``per_band`` smallest (any band-global top-k member
    is necessarily in its own sub-bucket's top-k), and only the
    ≤256×per_band survivors per band reach the final band window.
    """
    pairs = dedup_edges(spark, sf_dir, threshold=0.5)
    from pyspark.sql import Window

    banded = pairs.select(
        "doc_a",
        "doc_b",
        F.round(F.col("jaccard") * 1000, 0).cast("long").alias("j_milli"),
    ).withColumn("band", F.expr("j_milli div 100"))
    keyed = banded.withColumn(
        "k",
        F.md5(
            F.concat_ws(
                ":", F.col("doc_a").cast("string"), F.col("doc_b").cast("string")
            )
        ),
    ).withColumn("sb", F.expr("conv(substr(k, 1, 2), 16, 10)").cast("int"))
    w_local = Window.partitionBy("band", "sb").orderBy("k", "doc_a", "doc_b")
    survivors = keyed.withColumn("lr", F.row_number().over(w_local)).filter(
        F.col("lr") <= per_band
    )
    w = Window.partitionBy("band").orderBy("k", "doc_a", "doc_b")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= per_band)
        .select("band", "doc_a", "doc_b", "j_milli", "sample_rank")
    )


def cluster_size_distribution(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Near-dup cluster TOPOLOGY summary: how many clusters of each
    size, their document mass, and each size class's share of all
    clustered docs — the number that distinguishes "a few mega-
    templates" (one size-10k cluster: dedup saves big, canonical
    choice matters) from "scattered pairs" (all size-2: cheap wins
    only).

    Reuses the verified cluster relation; two tiny aggregations on
    top (cluster → size, size → count). The size histogram is bounded
    by the largest cluster, not the corpus.
    """
    clusters = dup_clusters(spark, sf_dir, threshold)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    total = F.broadcast(sizes.agg(F.sum("sz").alias("n_clustered")))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .join(total)
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
            F.expr("sz * n_clusters * 1000000 div n_clustered").alias(
                "doc_share_ppm"
            ),
        )
    )


def canonical_quality_gap(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Canonical-selection audit: for every near-dup cluster, compare
    the keep-first (min doc_id) canonical's token count against the
    cluster's BEST member — the report that decides whether cheap
    keep-first loses content vs a quality-argmax keep (if the gap is
    ~zero, keep-first is free; if not, the argmax pays).

    One join of the verified cluster relation to per-doc token counts,
    one groupBy(cluster) folding canonical and max atomically
    (max_by / conditional max — no second pass). Gap in exact tokens
    and floored ppm of the best member.
    """
    clusters = dup_clusters(spark, sf_dir, threshold).select(
        "doc_id", "cluster_id", "is_canonical"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("nt")
    )
    m = clusters.join(docs, "doc_id")
    return (
        m.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(F.when(F.col("is_canonical"), F.col("nt"))).alias("canon_nt"),
            F.max("nt").alias("best_nt"),
        )
        .select(
            "cluster_id",
            "n_docs",
            "canon_nt",
            "best_nt",
            (F.col("best_nt") - F.col("canon_nt")).alias("gap_tokens"),
            F.expr("(best_nt - canon_nt) * 1000000 div best_nt").alias("gap_ppm"),
        )
    )


def survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E221: golden-record survivorship merge — for every
    TOKEN-SET duplicate cluster (docs whose distinct-token bags are
    identical: the same content modulo word order and repetition — one
    tier looser than the normalization fingerprint, one tier stricter
    than Jaccard near-dup), emit ONE merged record applying explicit
    survivorship rules: keep the lowest doc_id as canonical, the
    richest content length, the union of sources (sorted, so the value
    — and the gate hash — is deterministic), and the language count as
    a conflict flag. The master-data-management step that runs right
    after dedup: dedup says "these collapse", survivorship says what
    the surviving row IS.

    One hash aggregation on the fingerprint — the same single exchange
    exact dedup pays; collect_set stays bounded by cluster size (a
    hot template would be capped upstream by E201's size histogram).
    The fingerprint is md5 of the sorted distinct token list — an
    order-canonical key both engines compute identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.sort_array(F.array_distinct(tokens_col("text"))), " "))
    return (
        docs.select(
            fp.alias("fingerprint"),
            "doc_id",
            "n_chars",
            "lang",
            "source",
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("canonical_id"),
            F.max("n_chars").alias("best_n_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"),
        )
        .filter(F.col("n_members") >= 2)
    )


def kcore_decomposition(
    spark: SparkSession, sf_dir: str, k: int = 2, rounds: int = 3
) -> DataFrame:
    """EXT E223: k-core of the near-dup graph — iteratively peel nodes
    with degree < k until (bounded) fixpoint; what survives is the
    dense template backbone, the part of a dup graph where
    cluster-then-canonicalize pays and where LPA/CC spend their time.
    The standard graph-degeneracy preprocessing step.

    Edges reuse the prefix-filtered exact-Jaccard join (no new
    quadratic); each peel round is one degree aggregation + two
    LEFT SEMI joins against the survivor set — shuffle bounded by the
    (shrinking) edge relation. Round boundaries are ``localCheckpoint``
    (the :func:`connected_components` convention): the expensive edge
    build runs ONCE and each round's plan starts from materialized
    partitions instead of re-deriving the whole unrolled tree — the
    unrolled-lazy variant re-executed the Jaccard join per branch
    (measured 42 s vs ~4 s at sf0.1). Production at unbounded rounds
    adds a convergence check on the same boundaries.
    """
    edges = (
        dedup_edges(spark, sf_dir, 0.8)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .transform(_cut_lineage)
    )
    for _ in range(rounds):
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        edges = edges.join(
            keep.select(F.col("node").alias("a")), "a", "left_semi"
        ).join(
            keep.select(F.col("node").alias("b")), "b", "left_semi"
        ).transform(_cut_lineage)
    return (
        edges.select(F.col("a").alias("doc_id"))
        .unionAll(edges.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def jaccard_threshold_profile(
    spark: SparkSession, sf_dir: str, thresholds: tuple = (0.7, 0.8, 0.9)
) -> DataFrame:
    """EXT E229: near-dup graph density vs threshold — for each
    candidate Jaccard cutoff: surviving pair count, docs touched, and
    the maximum degree. The threshold-tuning table read BEFORE running
    clustering at scale: a cutoff whose max-degree explodes means
    template families will chain into mega-clusters (E201's
    pathology); pairs/docs falling off a cliff means the cutoff is
    past the corpus's similarity mass.

    ONE prefix-filtered exact-Jaccard join at the loosest threshold
    feeds all levels (pairs at 0.8/0.9 are subsets of 0.7's — computed
    by filtering, never re-joining); per level one count aggregate and
    one degree aggregate over the shrinking pair relation.
    """
    pairs = dedup_edges(spark, sf_dir, min(thresholds)).persist()
    levels = []
    for t in thresholds:
        p_t = pairs.filter(F.col("jaccard") >= t)
        deg = (
            p_t.select(F.col("doc_a").alias("d"))
            .unionAll(p_t.select(F.col("doc_b").alias("d")))
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        levels.append(
            deg.agg(
                F.lit(int(round(t * 100))).cast("long").alias("threshold_pct"),
                F.coalesce(F.sum("dg"), F.lit(0)).alias("endpoint_count"),
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.max("dg"), F.lit(0)).alias("max_degree"),
            )
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out.select(
        "threshold_pct",
        F.expr("endpoint_count div 2").alias("n_pairs"),
        "n_docs",
        "max_degree",
    )


def blocking_recall_audit(
    spark: SparkSession, sf_dir: str, sample_pct: int = 10, threshold: float = 0.8
) -> DataFrame:
    """EXT E235: blocking-key recall audit — does the lang×source
    blocking the near-dup joins rely on actually lose true pairs?
    Exhaustive (unblocked) Jaccard over a DETERMINISTIC ~10% md5
    sample, each true pair classified within-block vs cross-block; the
    cross-block ppm IS the recall the production blocked join gives up.
    The standard record-linkage evaluation loop — blocked pipelines
    that never run it ship silent recall losses.

    The exhaustive pairing is quadratic BY DESIGN and bounded by the
    sample: cost scales with (pct·N)², independent of full-corpus
    shape — the audit stays a fixed-size side job at any corpus size
    (tighten pct as N grows). One row out: sample size, true pairs,
    within/cross split, missed ppm.
    """
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    sample = (
        _distinct_tokens(docs)
        .filter(md5_bucket(F.col("doc_id"), 100) < sample_pct)
        .select("doc_id", "lang", "source", F.col("toks"))
    )
    a = sample.select(
        F.col("doc_id").alias("ida"), F.col("lang").alias("la"),
        F.col("source").alias("sa"), F.col("toks").alias("ta"),
    )
    b = sample.select(
        F.col("doc_id").alias("idb"), F.col("lang").alias("lb"),
        F.col("source").alias("sb"), F.col("toks").alias("tb"),
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    jac = F.round(inter / union.cast("double"), 4)
    pairs = (
        a.join(b, F.col("ida") < F.col("idb"))
        .select(
            jac.alias("j"),
            ((F.col("la") == F.col("lb")) & (F.col("sa") == F.col("sb")))
            .cast("long")
            .alias("same_block"),
        )
        .filter(F.col("j") >= threshold)
    )
    n_docs = sample.agg(F.count(F.lit(1)).alias("n_sample_docs"))
    return (
        pairs.agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("same_block").alias("n_within_block"),
            F.sum(1 - F.col("same_block")).alias("n_cross_block"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "n_sample_docs",
            "n_true_pairs",
            "n_within_block",
            "n_cross_block",
            F.expr(
                "CASE WHEN n_true_pairs > 0"
                " THEN n_cross_block * 1000000 div n_true_pairs ELSE 0 END"
            ).alias("missed_ppm"),
        )
    )


def blocking_recall_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E399: FULL-corpus measured blocking recall at the production
    threshold — the exact complement to E235's sampled quadratic audit.
    The UNBLOCKED prefix-filter join (:func:`ngram_jaccard_pairs` with
    ``blocked=False`` — inverted-index shaped, never all-pairs) finds
    every true pair ≥ t corpus-wide; classifying each by whether it
    shares a lang×source block yields the exact blocked vs unblocked
    pair counts and the recall the production blocked join actually
    achieves (10⁶ ppm = blocking is lossless on this corpus). This is
    the measured number :func:`dedup_strategy_report` carries per tier
    — run it before trusting a blocked dedup at a new corpus mix.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    pairs = _unblocked_edges(spark, sf_dir, threshold)
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("la"),
        F.col("source").alias("sa"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lb"),
        F.col("source").alias("sb"),
    )
    flagged = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            ((F.col("la") == F.col("lb")) & (F.col("sa") == F.col("sb")))
            .cast("long")
            .alias("same_block")
        )
    )
    return (
        flagged.agg(
            F.count(F.lit(1)).alias("n_pairs_unblocked"),
            F.coalesce(F.sum("same_block"), F.lit(0)).alias("n_pairs_blocked"),
            F.coalesce(F.sum(1 - F.col("same_block")), F.lit(0)).alias(
                "n_pairs_cross_block"
            ),
        )
        .select(
            F.lit(int(round(threshold * 10000))).cast("long").alias(
                "threshold_bp"
            ),
            "n_pairs_unblocked",
            "n_pairs_blocked",
            "n_pairs_cross_block",
            F.expr(
                "CASE WHEN n_pairs_unblocked > 0"
                " THEN n_pairs_blocked * 1000000 div n_pairs_unblocked"
                " ELSE 1000000 END"
            ).alias("recall_ppm"),
        )
    )


def neardup_evidence(
    spark: SparkSession, sf_dir: str, n_pairs: int = 10, top_grams: int = 3
) -> DataFrame:
    """EXT E258: near-dup EVIDENCE — for the strongest near-duplicate
    pairs, the most DISTINCTIVE shared tokens (lowest corpus document
    frequency): the human-reviewable "why did dedup match these two"
    artifact. Pure similarity scores get appealed; showing the rare
    shared vocabulary is what makes a dedup decision auditable — the
    explanation layer over E14's pair relation. (Shared n-grams would
    be stronger evidence for copy-paste dups, but the matcher's metric
    is token-SET Jaccard, so tokens are the faithful explanation of
    what it actually matched on.)

    The top pairs are TakeOrderedAndProject over the verified Jaccard
    join; shared tokens are one array_intersect per selected pair
    (array-local); token rarity joins in from a corpus-wide token→df
    relation (one explode + map-side-combined count). Ranking inside
    each pair is a window over ≤ |shared tokens| rows of the few
    selected pairs.
    """
    from pyspark.sql import Window as W

    pairs = (
        dedup_edges(spark, sf_dir, 0.8)
        .orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(n_pairs)
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.array_distinct(tokens_col("text")).alias("ts")
    )
    tdf = (
        toks.select(F.explode("ts").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_docs"))
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    shared = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.explode(F.array_intersect("ts_a", "ts_b")).alias("token"),
        )
        .join(tdf, "token")
    )
    w = W.partitionBy("doc_a", "doc_b").orderBy(F.asc("df_docs"), F.asc("token"))
    return (
        shared.withColumn("evidence_rank", F.row_number().over(w))
        .filter(F.col("evidence_rank") <= top_grams)
        .select("doc_a", "doc_b", "jaccard", "token", "df_docs", "evidence_rank")
    )


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E266: cross-source duplication matrix — for every PAIR of
    sources, how many token-set-identical document clusters they
    share. The lang×source-blocked Jaccard joins can never surface
    cross-source duplicates BY CONSTRUCTION (the blocking-recall audit
    E235 measures that loss); this operator closes the gap for the
    exact tier with an EQUALITY key (the E221 token-set fingerprint),
    which needs no blocking at all — a hash groupBy finds every
    cross-source collision at any scale.

    One fingerprint aggregation collecting the distinct source set per
    cluster, then an array-local pair expansion of each cluster's
    sources (bounded by |sources|² ≤ 25) — no joins beyond the first
    exchange. Output: unordered source pairs with shared-cluster and
    shared-doc counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.sort_array(F.array_distinct(tokens_col("text"))), " "))
    clusters = (
        docs.select(fp.alias("fingerprint"), "source", "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.sort_array(F.collect_set("source")).alias("sources"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.size("sources") >= 2)
    )
    pairs = clusters.select(
        "n_docs",
        F.explode(
            F.expr(
                "flatten(transform(sources, (s, i) ->"
                " transform(slice(sources, i + 2, size(sources)),"
                " t -> struct(s AS sa, t AS sb))))"
            )
        ).alias("p"),
    )
    return (
        pairs.select(F.col("p.sa").alias("source_a"), F.col("p.sb").alias("source_b"), "n_docs")
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_clusters"),
            F.sum("n_docs").alias("docs_in_shared_clusters"),
        )
    )


def pair_review_queue(
    spark: SparkSession, sf_dir: str, per_band: int = 2
) -> DataFrame:
    """EXT E289: human-review queue for near-dup pairs — a
    DETERMINISTIC stratified sample of candidate pairs, ``per_band``
    from each Jaccard band ([0.80,0.85) … [0.95,1.0]), ordered by the
    md5 of the pair key. The labeling-ops bridge between dedup
    metrics and dedup DECISIONS: humans calibrate the threshold by
    reviewing pairs across the score range, and the md5 order makes
    two labeling rounds share work instead of resampling (the E187
    annotation-batch discipline applied to pairs).

    Rides the verified pair relation; banding is integer arithmetic on
    the EXACT 4dp Jaccard integer (round(j*10000)), not the double —
    floor((0.90-0.8)*20) is 1 under IEEE (0.09999…*20 = 1.9999…), which
    would misbin exact band edges; (9000-8000) div 500 = 2 is exact.
    The per-band pick is one row_number window over band-partitioned
    candidates.
    """
    from pyspark.sql import Window as W

    pairs = dedup_edges(spark, sf_dir, 0.8).select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.expr(
            "least((CAST(round(jaccard * 10000) AS BIGINT) - 8000) div 500, 3)"
        ).alias("band"),
        F.md5(F.concat_ws("_", "doc_a", "doc_b")).alias("h"),
    )
    w = W.partitionBy("band").orderBy("h", "doc_a", "doc_b")
    return (
        pairs.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= per_band)
        .select("band", "pick", "doc_a", "doc_b", "jaccard")
    )


def leakage_safe_split(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, val_pct: int = 20
) -> DataFrame:
    """EXT E305: contamination-safe train/val assignment — the FIXER
    for the E111 split-leakage audit: near-duplicate documents must
    land on the SAME side of the split, or the validation set scores
    memorization. Assignment unit = the near-dup CLUSTER (connected
    component of the verified pair relation), not the document: each
    cluster (and each singleton doc) goes to val iff
    ``md5(unit_id) mod 100 < val_pct`` — deterministic, extensible,
    and impossible to straddle by construction.

    Output: per (split, is_clustered) — doc counts, cluster counts,
    and the audit column that must be ZERO: pairs whose two members
    sit in different splits. Rides the materialized edge table (E299)
    and the E26 cluster relation; the audit is one join of the pair
    relation against the assignment, aggregated.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dup_clusters(spark, sf_dir, threshold).select(
        "doc_id", "cluster_id"
    )
    unit = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("unit_id"),
        F.col("cluster_id").isNotNull().cast("long").alias("is_clustered"),
    )
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    assigned = unit.withColumn(
        "split",
        F.when(md5_bucket(F.col("unit_id"), 100) < val_pct, F.lit("val")).otherwise(
            F.lit("train")
        ),
    )
    pairs = dedup_edges(spark, sf_dir, threshold).select("doc_a", "doc_b")
    sa = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
    sb = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
    straddle = F.broadcast(
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.sum((F.col("sp_a") != F.col("sp_b")).cast("long")).alias(
                "n_straddling_pairs"
            )
        )
        .select(F.coalesce(F.col("n_straddling_pairs"), F.lit(0)).alias("n_straddling_pairs"))
    )
    return (
        assigned.groupBy("split", "is_clustered")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("unit_id")).alias("n_units"),
        )
        .join(straddle)
        .select(
            "split", "is_clustered", "n_docs", "n_units", "n_straddling_pairs"
        )
    )


def dup_provenance(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E310: duplication provenance forest — inside each near-dup
    cluster, every document with at least one EARLIER direct neighbor
    (arrival order = doc_id) points at the most similar of them: the
    who-copied-whom evidence trail behind a dedup decision, and the
    structure a takedown/licensing review walks. Roots (is_root) are
    the cluster canonicals (E26); a non-root whose direct edges all
    lead to later arrivals keeps a NULL parent (it joined the cluster
    through documents that came after it) — the honest reading.

    One scan of the materialized edge table (E299): charge each pair to
    its later member, one ``max_by`` argmax per doc (map-side partial
    agg, no window), join the cluster relation for the cluster id.
    """
    pairs = dedup_edges(spark, sf_dir, threshold).select(
        F.greatest("doc_a", "doc_b").alias("doc_id"),
        F.least("doc_a", "doc_b").alias("earlier_doc"),
        "jaccard",
    )
    parents = pairs.groupBy("doc_id").agg(
        F.max_by(
            "earlier_doc", F.struct(F.col("jaccard"), -F.col("earlier_doc"))
        ).alias("parent_id"),
        F.max("jaccard").alias("parent_jaccard"),
    )
    clusters = dup_clusters(spark, sf_dir, threshold).select(
        "doc_id", "cluster_id", "is_canonical"
    )
    return (
        clusters.join(parents, "doc_id", "left")
        .select(
            "doc_id",
            "cluster_id",
            F.col("is_canonical").cast("long").alias("is_root"),
            "parent_id",
            "parent_jaccard",
        )
    )


def lsh_parameter_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E338: MinHash-LSH banding design table — for each candidate
    (bands b, rows-per-band r) configuration of a 32-permutation
    signature, the s-curve threshold ``(1/b)^(1/r)`` and the detection
    probability ``1 − (1 − j^r)^b`` at reference Jaccard levels: the
    table an engineer reads BEFORE picking E2's banding (this repo's
    8×4 default is one row; the advisor shows what moving along the
    precision/recall curve costs). Generated workload (pure math over
    the config grid — the E309/E319 oracle discipline: DuckDB derives
    every value from the formulas); ``sf_dir`` unused.

    Probabilities in floored ppm; the double chain (powers of exact
    rationals) is fixed-order and engine-identical.
    """
    # JVM-side literal grids (spark.range + array element_at): a
    # python-side createDataFrame pays Python-worker startup per
    # partition — measured ~10 s for 24 rows; this is milliseconds
    configs = (
        spark.range(4)
        .coalesce(1)
        .select(
            F.expr(
                "element_at(array(2, 4, 8, 16), CAST(id + 1 AS INT))"
            ).alias("bands")
        )
        .withColumn("rows_per_band", F.expr("32 div bands").cast("int"))
        .withColumn("bands", F.col("bands").cast("int"))
    )
    js = (
        spark.range(6)
        .coalesce(1)
        .select(
            F.expr(
                "element_at(array(50, 60, 70, 80, 90, 95), CAST(id + 1 AS INT))"
            ).cast("int").alias("j_centi")
        )
    )
    grid = configs.crossJoin(js)
    j = F.col("j_centi").cast("double") / 100.0
    p_detect = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(j, F.col("rows_per_band").cast("double")),
        F.col("bands").cast("double"),
    )
    thresh = F.pow(
        F.lit(1.0) / F.col("bands").cast("double"),
        F.lit(1.0) / F.col("rows_per_band").cast("double"),
    )
    return grid.select(
        "bands",
        "rows_per_band",
        F.floor(thresh * 1e6).cast("long").alias("threshold_ppm"),
        "j_centi",
        F.floor(p_detect * 1e6).cast("long").alias("p_detect_ppm"),
    )


def dedup_savings_projection(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E339: the dedup business case in one row per source — what
    near-dup removal at ``threshold`` actually SAVES: docs removed
    (non-canonical cluster members), exact characters and tokens
    reclaimed, and each as ppm of the source's corpus. The number that
    justifies (or kills) running the pipeline at all, and the
    per-source breakdown that says where the duplication lives.

    Pure composition: E26 clusters (riding the materialized edge
    table) joined once to the documents relation; all integer sums.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
    )
    removed = dup_clusters(spark, sf_dir, threshold).filter(
        ~F.col("is_canonical")
    ).select("doc_id")
    tagged = docs.join(
        removed.withColumn("gone", F.lit(1)), "doc_id", "left"
    ).withColumn("gone", F.coalesce(F.col("gone"), F.lit(0)))
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("gone").alias("n_removed"),
            F.sum(F.col("gone") * F.col("n_chars")).alias("chars_removed"),
            F.sum(F.col("gone") * F.col("n_tokens")).alias("tokens_removed"),
            F.sum("n_chars").alias("chars_total"),
            F.sum("n_tokens").alias("tokens_total"),
        )
        .select(
            "source",
            "n_docs",
            "n_removed",
            F.expr("n_removed * 1000000 div n_docs").alias("docs_removed_ppm"),
            "chars_removed",
            F.expr("chars_removed * 1000000 div chars_total").alias(
                "chars_removed_ppm"
            ),
            "tokens_removed",
            F.expr("tokens_removed * 1000000 div tokens_total").alias(
                "tokens_removed_ppm"
            ),
        )
    )


def weighted_pagerank(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, iters: int = 2
) -> DataFrame:
    """EXT E347: similarity-WEIGHTED PageRank over the near-dup graph —
    :func:`neardup_pagerank` treats a 0.80 and a 0.99 edge alike;
    here each neighbor's rank mass splits ∝ the exact Jaccard weight,
    so the centrality ranks the documents sitting at the center of the
    TIGHTEST duplication mass (the strongest canonical-keep signal),
    not merely the best-connected ones.

    :func:`ppb_pagerank` riding the SAME materialized edge relation.
    All integer: edge weight = round(jaccard·10⁴); contribution =
    pr·w div W_u with W_u the exact out-weight sum; update = 0.15 +
    0.85·incoming in ppb longs — the DuckDB oracle replays both rounds
    as CTE levels bit-for-bit.
    """
    e = dedup_edges(spark, sf_dir, threshold).select(
        "doc_a", "doc_b",
        F.expr("CAST(round(jaccard * 10000) AS BIGINT)").alias("w"),
    )
    edges = (
        e.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"), "w")
        .union(e.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"), "w"))
        .distinct()
        .transform(_cut_lineage)
    )
    nodes = edges.groupBy("src").agg(F.sum("w").alias("wdeg")).select(
        F.col("src").alias("v"), "wdeg",
        F.lit(1_000_000_000).cast("long").alias("e"),
    )
    return ppb_pagerank(edges, nodes, iters).select(
        F.col("v").alias("doc_id"), "wdeg", F.col("pr").alias("pr_ppb")
    )


def incremental_neardup_edges(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E352: INCREMENTAL near-dup edge maintenance — the
    append-a-shard production shape. A deterministic ~20 % of docs
    (md5 bucket) plays the newly-arrived delta; edges are built as
    base×base (what a standing edge table already holds) ∪ delta×all
    (the only work an append actually requires: the delta's prefixes
    probe the full inverted index — O(|delta|·prefix) shuffle, never a
    rescan of base×base). The query RETURNS the maintained relation,
    and its oracle is the FULL rebuild — the strongest possible gate
    that incremental == recompute, pair for pair, jaccard for jaccard.

    Same prefix-filter/verify machinery and float-soundness
    (floor-lengthened prefixes, eps-slack size prune) as
    :func:`ngram_jaccard_pairs`.
    """
    toks = _distinct_tokens(load_table(spark, sf_dir, "documents"))
    base_rel = toks.select(
        "doc_id",
        "lang",
        "source",
        F.array_sort("toks").alias("toks"),
        F.size("toks").alias("sz"),
        (F.expr("conv(substr(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10)")
         .cast("long") < 51).alias("is_delta"),
    )
    base_rel = _materialize_once(base_rel)

    plen = (F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    pref = base_rel.select(
        "doc_id", "lang", "source", "sz", "is_delta",
        F.explode(F.slice("toks", F.lit(1), plen)).alias("ptok"),
    )
    eps = 1e-9

    def cand(left, right, extra):
        a, b = left.alias("a"), right.alias("b")
        return (
            a.join(
                b,
                (F.col("a.lang") == F.col("b.lang"))
                & (F.col("a.source") == F.col("b.source"))
                & (F.col("a.ptok") == F.col("b.ptok"))
                & extra
                & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - F.lit(eps))
                & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - F.lit(eps)),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            )
            .distinct()
        )

    old = pref.filter(~F.col("is_delta"))
    delta = pref.filter(F.col("is_delta"))
    # standing edges: base×base (doc_a < doc_b directly)
    base_cand = cand(old, old, F.col("a.doc_id") < F.col("b.doc_id"))
    # append work: delta probes EVERYONE (delta×base + delta×delta);
    # least/greatest canonicalization + distinct folds the two
    # discovery directions of a delta×delta pair into one
    delta_cand = cand(delta, pref, F.col("a.doc_id") != F.col("b.doc_id"))
    cands = base_cand.union(delta_cand).distinct()

    sa = base_rel.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    sb = base_rel.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = F.when(union > 0, inter / union.cast("double"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def neardup_reach_hops(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_hops: int = 3,
    seed_buckets: int = 20,
) -> DataFrame:
    """EXT E368: bounded BFS hop-distance from a deterministic seed set
    over the near-dup graph, declared as a Spark 4 **recursive CTE**
    (``WITH RECURSIVE`` — the first genuinely recursive SQL surface in
    the engine; reference has no graph ops at all).

    Contamination radius question: "if these docs are tainted, how
    much of the corpus sits within h hops of one?" E178's taint
    closure answers membership via an imperative checkpointed loop;
    this answers *distance* declaratively: the recursive member joins
    the frontier to the (symmetrized) materialized edge relation
    (:func:`dedup_edges` — built once, served as a parquet scan) with
    a hard ``hop < max_hops`` cap AND a DISTINCT on each recursive
    level, then ``min(hop)`` collapses residual cross-level
    multiplicity. The DISTINCT is load-bearing: near-dup clusters are
    cliques, so raw UNION-ALL path counts grow ~cᵈ and blow the
    engine's recursion row limit at sf0.1 (observed); deduping the
    working level bounds every iteration at ≤|V| rows — the same
    frontier-contraction the iterative BFS loop would do, declared
    in-dialect.

    Scale note: per-level DISTINCT makes each of the ≤max_hops
    iterations one shuffle over ≤|V| rows; at 100 TB/web-scale the
    drop-in is still the explicit iterative loop with lineage cuts
    (exactly :func:`dup_clusters`'s machinery) for checkpoint control
    across hundreds of rounds. Output is
    the hop histogram + corpus share (ppm, via a broadcast 1-row
    total join) — the gate relation stays ≤ max_hops+1 rows.
    """
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    edges = dedup_edges(spark, sf_dir, threshold)
    und = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("w")
    ).unionAll(edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("w")))
    seeds = docs.select("doc_id").filter(
        md5_bucket(F.col("doc_id"), seed_buckets) == 0
    )
    und.createOrReplaceTempView("t_reach_edges")
    seeds.createOrReplaceTempView("t_reach_seeds")
    reached = spark.sql(
        f"""
        WITH RECURSIVE r(doc_id, hop) AS (
          SELECT doc_id, 0 FROM t_reach_seeds
          UNION ALL
          SELECT DISTINCT e.w, r.hop + 1
          FROM r JOIN t_reach_edges e ON e.u = r.doc_id
          WHERE r.hop < {int(max_hops)}
        )
        SELECT doc_id, CAST(min(hop) AS INT) AS hop FROM r GROUP BY doc_id
        """
    )
    total = F.broadcast(docs.agg(F.count(F.lit(1)).alias("_n_docs")))
    return (
        reached.groupBy("hop")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(total)
        .select(
            "hop",
            "n_docs",
            F.expr("n_docs * 1000000 div _n_docs").alias("share_ppm"),
        )
    )


def fs_linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E381: Fellegi–Sunter record linkage — probabilistic entity
    matching across SYSTEMS (vs the within-corpus text near-dup tier):
    candidate pairs from blocking, per-FIELD agreement vector, and a
    match score that is the sum of pre-registered log-likelihood
    weights ln(m/u) / ln((1−m)/(1−u)) per agreeing/disagreeing field
    (m = P(agree | same entity), u = P(agree | different) — here
    fixed, externally calibrated constants; the EM estimation loop is
    the documented at-scale extension, same fixed-point machinery as
    E56/E127).

    Fixture: a deterministic "system B" extract — 25 % of customers,
    ids offset by 10^7, with realistic corruptions (case-mangled name
    on half, market segment miskeyed on a fifth, balance drifted 37
    cents on a third). Blocking on nationkey keeps candidates
    |block_A|×|block_B| per nation — the relational shape that holds
    at any scale with a tight enough key. The gate groups pairs by
    agreement PATTERN: each of the 8 patterns carries its exact
    integer score (micro, via floored-ln constants on e0 double
    literals), pair count, true-match count and precision — the
    operating-characteristic table a linkage deployment tunes its
    threshold on.
    """
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    cust = load_table(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_nationkey").alias("nation"),
        F.lower("c_name").alias("a_name_ci"),
        F.col("c_mktsegment").alias("a_seg"),
        F.expr("cast(floor(c_acctbal * 100 + 0.5) as long) div 1000").alias(
            "a_band"
        ),
    )
    src = cust.filter(md5_bucket(F.col("c_custkey"), 4) == 0)
    b = src.select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("b_id"),
        F.col("c_custkey").alias("b_orig"),
        F.col("c_nationkey").alias("nation"),
        # case mangling never survives the ci comparison — harmless;
        # segment miskeying and balance drift are the real corruptions
        F.lower("c_name").alias("b_name_ci"),
        F.when(
            md5_bucket(F.concat(F.col("c_custkey").cast("string"), F.lit("#seg")), 5)
            == 0,
            F.lit("CORRUPTED"),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        (
            F.expr("cast(floor(c_acctbal * 100 + 0.5) as long)")
            + F.when(
                md5_bucket(
                    F.concat(F.col("c_custkey").cast("string"), F.lit("#bal")), 3
                )
                == 0,
                F.lit(37),
            ).otherwise(F.lit(0))
        ).alias("b_cents"),
    ).withColumn("b_band", F.expr("b_cents div 1000"))
    pairs = a.join(b, "nation").select(
        (F.col("a_name_ci") == F.col("b_name_ci")).alias("name_agree"),
        (F.col("a_seg") == F.col("b_seg")).alias("seg_agree"),
        (F.col("a_band") == F.col("b_band")).alias("band_agree"),
        (F.col("a_id") == F.col("b_orig")).cast("long").alias("is_true"),
    )
    # pre-registered (m, u) per field -> micro log-weights, the
    # floor(ln(rational)*1e6 + 0.5) recipe on e0 double literals
    w = {
        "name": ("ln(99e0/1e0)", "ln(1e0/99e0)"),      # m=.99, u=.01
        "seg": ("ln(80e0/20e0)", "ln(20e0/80e0)"),     # m=.80, u=.20
        "band": ("ln(90e0/10e0)", "ln(10e0/90e0)"),    # m=.90, u=.10
    }
    def _w(expr: str):
        return f"cast(floor(({expr}) * 1000000 + 0.5) as long)"

    score = " + ".join(
        f"if({f}_agree, {_w(agr)}, {_w(dis)})" for f, (agr, dis) in w.items()
    )
    return (
        pairs.groupBy("name_agree", "seg_agree", "band_agree")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_true").alias("n_true"),
        )
        .select(
            "name_agree",
            "seg_agree",
            "band_agree",
            F.expr(score).alias("score_micro"),
            "n_pairs",
            "n_true",
            F.expr("n_true * 1000000 div n_pairs").alias("precision_ppm"),
        )
    )


def dup_weighted_mixture(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E386: duplicate-aware loss weighting — the dedup strategy
    that KEEPS duplicates: instead of dropping near-dup rows, each doc
    is weighted 1/|cluster| so every distinct content unit contributes
    one unit of training mass regardless of how many copies exist
    (publicly documented alternative to hard dedup; preserves natural
    up-weighting debates by making the choice explicit). Singleton
    docs weigh 1.

    Plan: the materialized near-dup cluster relation (E26, built on
    the shared edge table) left-joined onto the corpus — shuffle ∝
    clustered docs only; per (lang, source) the report emits raw vs
    effective doc counts (Σ 1/|cluster| in exact ppm) and the mass
    the weighting removed — the number a mixture planner (E303) would
    consume instead of raw counts.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    clusters = dup_clusters(spark, sf_dir, threshold)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("csize")
    )
    membership = clusters.join(sizes, "cluster_id").select("doc_id", "csize")
    weighted = docs.join(membership, "doc_id", "left").select(
        "lang",
        "source",
        F.coalesce(F.col("csize"), F.lit(1)).alias("csize"),
    )
    return weighted.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("csize") > 1).cast("long")).alias("n_dup_docs"),
        F.sum(F.expr("1000000 div csize")).alias("eff_docs_ppm"),
        (
            F.count(F.lit(1)) * F.lit(1_000_000)
            - F.sum(F.expr("1000000 div csize"))
        ).alias("removed_mass_ppm"),
    )


def _fs_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared with :func:`fs_linkage_patterns`: blocked candidate-pair
    agreement patterns, collapsed to the 8-row (a_name, a_seg, a_band,
    n) relation EM iterates on."""
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    cust = load_table(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_nationkey").alias("nation"),
        F.lower("c_name").alias("a_name_ci"),
        F.col("c_mktsegment").alias("a_seg"),
        F.expr("cast(floor(c_acctbal * 100 + 0.5) as long) div 1000").alias(
            "a_band"
        ),
    )
    b = cust.filter(md5_bucket(F.col("c_custkey"), 4) == 0).select(
        F.col("c_custkey").alias("b_orig"),
        F.col("c_nationkey").alias("nation"),
        F.lower("c_name").alias("b_name_ci"),
        F.when(
            md5_bucket(
                F.concat(F.col("c_custkey").cast("string"), F.lit("#seg")), 5
            )
            == 0,
            F.lit("CORRUPTED"),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        (
            F.expr("cast(floor(c_acctbal * 100 + 0.5) as long)")
            + F.when(
                md5_bucket(
                    F.concat(F.col("c_custkey").cast("string"), F.lit("#bal")),
                    3,
                )
                == 0,
                F.lit(37),
            ).otherwise(F.lit(0))
        ).alias("b_cents"),
    ).withColumn("b_band", F.expr("b_cents div 1000"))
    return (
        a.join(b, "nation")
        .select(
            (F.col("a_name_ci") == F.col("b_name_ci")).alias("a1"),
            (F.col("a_seg") == F.col("b_seg")).alias("a2"),
            (F.col("a_band") == F.col("b_band")).alias("a3"),
        )
        .groupBy("a1", "a2", "a3")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def fs_em_weights(
    spark: SparkSession, sf_dir: str, iterations: int = 3
) -> DataFrame:
    """EXT E390: EM-estimated Fellegi–Sunter parameters — closing
    E381's documented extension. When no labeled pairs exist, the
    (p, m_f, u_f) parameters are a latent two-class mixture over the
    agreement-pattern table, fit by EM (Winkler's classic formulation,
    public): E-step weights every PATTERN (8 rows — EM never touches
    pair grain, the property that makes it free at any scale once the
    pattern counts exist), M-step re-estimates parameters from
    weighted pattern counts in EXACT integer arithmetic.

    Cross-engine determinism: parameters live as micro ints; the
    E-step's mixture products run in doubles with identical
    parenthesization and are immediately re-quantized with
    floor(·1e6 + 0.5), so no float drift survives an iteration; the
    M-step is pure integer (Σ n·w products stay < 2^63 through sf0.1;
    a 10^9-pair deployment divides by 10^6 before the multiply).
    Output: the 8 patterns with final posterior match weight, plus
    the fitted parameters — initialized at p=1 %, m=90 %, u=10 %.
    """
    # 8 rows carrying the whole blocked pair join: materialize once so
    # the per-iteration branches never recompute the pair relation
    pat = _materialize_once(_fs_pattern_counts(spark, sf_dir))
    p, m, u = (
        1_0000,
        [900_000, 900_000, 900_000],
        [100_000, 100_000, 100_000],
    )

    def _w_expr(p_: str, m_: list[str], u_: list[str]) -> str:
        pm = f"({p_} / 1e6)"
        pu = f"((1000000 - {p_}) / 1e6)"
        for i in (0, 1, 2):
            pm += (
                f" * if(a{i+1}, {m_[i]} / 1e6, 1e0 - {m_[i]} / 1e6)"
            )
            pu += (
                f" * if(a{i+1}, {u_[i]} / 1e6, 1e0 - {u_[i]} / 1e6)"
            )
        return (
            f"cast(floor(({pm}) / (({pm}) + ({pu})) * 1e6 + 0.5) as long)"
        )

    cur = pat
    pc, mc, uc = str(p), [str(x) for x in m], [str(x) for x in u]
    for _ in range(iterations):
        w = cur.withColumn("w", F.expr(_w_expr(pc, mc, uc)))
        agg = w.agg(
            F.sum(F.expr("n * w")).alias("sw"),
            F.sum(F.expr("n * (1000000 - w)")).alias("swc"),
            F.sum("n").alias("nn"),
            *[
                F.sum(F.expr(f"if(a{i+1}, n * w, 0)")).alias(f"swa{i+1}")
                for i in (0, 1, 2)
            ],
            *[
                F.sum(
                    F.expr(f"if(a{i+1}, n * (1000000 - w), 0)")
                ).alias(f"swca{i+1}")
                for i in (0, 1, 2)
            ],
        )
        cur = cur.join(F.broadcast(agg))
        pc = "(sw div nn)"
        mc = [f"(swa{i+1} * 1000000 div sw)" for i in (0, 1, 2)]
        uc = [f"(swca{i+1} * 1000000 div swc)" for i in (0, 1, 2)]
        cur = cur.select(
            "a1", "a2", "a3", "n",
            F.expr(pc).alias("p_micro"),
            *[F.expr(mc[i]).alias(f"m{i+1}_micro") for i in (0, 1, 2)],
            *[F.expr(uc[i]).alias(f"u{i+1}_micro") for i in (0, 1, 2)],
        )
        pc = "p_micro"
        mc = [f"m{i+1}_micro" for i in (0, 1, 2)]
        uc = [f"u{i+1}_micro" for i in (0, 1, 2)]
    return cur.select(
        "a1", "a2", "a3", "n",
        F.expr(_w_expr(pc, mc, uc)).alias("w_micro"),
        "p_micro",
        "m1_micro", "m2_micro", "m3_micro",
        "u1_micro", "u2_micro", "u3_micro",
    )


def leakage_release_certificate(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    val_pct: int = 20,
    benchmark_source: str = "src0",
) -> DataFrame:
    """EXT E396: the release GATE certificate — one table a data
    release ships with, certifying the three leakage classes every
    LLM-data audit asks about, each as (check, n_checked,
    n_violations, passed):

    - ``split_straddle_pairs``: near-dup pairs whose members sit on
      different sides of the E305 cluster-unit split — MUST be 0 (the
      split assigns whole clusters, so a violation means the split
      rule itself broke);
    - ``exact_dup_split_crossover``: exact-content groups spanning
      splits. NOT subsumed by the straddle check: the near-dup pair
      relation is blocked by lang x source, so identical text
      re-labeled under another source/lang never becomes an edge,
      lands in no cluster, and CAN straddle (observed: 3 groups at
      sf0.1) — the certificate catches precisely the blocking scheme's
      blind spot, which an argument-by-subsumption would have missed;
    - ``benchmark_contamination_train``: training docs sharing a
      5-gram with the benchmark source — honest count, `passed` only
      when zero (on this fixture it is NOT zero: the row is the
      action item, which is the point of a certificate).

    Everything rides already-verified relations: the materialized
    edge table (E299), the cluster relation (E26), the E27
    contamination probe — the certificate costs three small joins,
    not new scans, and its oracle composes the same verified SQL.
    """
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    clusters = dup_clusters(spark, sf_dir, threshold).select(
        "doc_id", "cluster_id"
    )
    assign = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                md5_bucket(
                    F.coalesce(F.col("cluster_id"), F.col("doc_id")), 100
                )
                < val_pct,
                F.lit("val"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )
    edges = dedup_edges(spark, sf_dir, threshold)
    straddle = (
        edges.join(
            assign.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum((F.col("sa") != F.col("sb")).cast("long")).alias(
                "n_violations"
            ),
        )
        .select(F.lit("split_straddle_pairs").alias("check"), "n_checked",
                F.coalesce("n_violations", F.lit(0)).alias("n_violations"))
    )
    exact_groups = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .join(assign, "doc_id")
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.count_distinct("split").alias("nsplits"),
        )
        .filter(F.col("sz") > 1)
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.coalesce(
                F.sum((F.col("nsplits") > 1).cast("long")), F.lit(0)
            ).alias("n_violations"),
        )
        .select(F.lit("exact_dup_split_crossover").alias("check"),
                "n_checked", "n_violations")
    )
    contaminated = (
        contamination_pairs(spark, sf_dir, benchmark_source=benchmark_source)
        .select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    n_train_docs = docs.filter(
        F.col("source") != benchmark_source
    ).agg(F.count(F.lit(1)).alias("n_checked"))
    contam = (
        F.broadcast(n_train_docs)
        .join(F.broadcast(contaminated))
        .select(F.lit("benchmark_contamination_train").alias("check"),
                "n_checked", "n_violations")
    )
    return (
        straddle.unionByName(exact_groups)
        .unionByName(contam)
        .select(
            "check",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


def leakage_safe_split_v2(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    val_pct: int = 20,
) -> DataFrame:
    """EXT E397: the FIX for the blind spot E396 certifies — split
    units are connected components over the UNION of the near-dup
    edge relation and exact-content-hash star edges (each duplicate
    group's docs linked to the group's min id). Cross-block identical
    text — invisible to the lang×source-blocked Jaccard join — now
    shares a unit with its twins, so neither leakage class can
    straddle BY CONSTRUCTION, and the output re-runs both certificate
    checks to prove it (the audit→fix→re-certify loop closed in one
    lineage).

    Cost: the exact-hash edges are one map-side hash aggregate (star
    edges, not pairwise — a 10^6-copy group contributes 10^6−1 edges,
    never quadratic), unioned into the same CC machinery (min-label
    probe, switching to star contraction on deep components).
    """
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    exact_edges = _exact_star_edges(spark, sf_dir)
    nd_edges = dedup_edges(spark, sf_dir, threshold).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = _split_unit_labels(spark, sf_dir, threshold, unblocked=False)
    assign = (
        docs.select("doc_id")
        .join(cc.select(F.col("v").alias("doc_id"), "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                md5_bucket(
                    F.coalesce(F.col("cluster_id"), F.col("doc_id")), 100
                )
                < val_pct,
                F.lit("val"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )

    def _straddle(edges: DataFrame, name: str) -> DataFrame:
        return (
            edges.join(
                assign.select(
                    F.col("doc_id").alias("src"), F.col("split").alias("sa")
                ),
                "src",
            )
            .join(
                assign.select(
                    F.col("doc_id").alias("dst"), F.col("split").alias("sb")
                ),
                "dst",
            )
            .agg(
                F.count(F.lit(1)).alias("n_checked"),
                F.coalesce(
                    F.sum((F.col("sa") != F.col("sb")).cast("long")), F.lit(0)
                ).alias("n_violations"),
            )
            .select(F.lit(name).alias("check"), "n_checked", "n_violations")
        )

    return (
        _straddle(nd_edges, "near_dup_straddle_pairs")
        .unionByName(_straddle(exact_edges, "exact_dup_straddle_edges"))
        .select(
            "check",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


def shingle_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Exact SHINGLE-set Jaccard pairs via the prefix-filter join —
    the non-circular ground truth for evaluating MinHash-LSH (E405):
    same inverted-index theorem as :func:`ngram_jaccard_pairs` but over
    the sorted 64-bit shingle-hash arrays the MinHash tier itself is
    built on, UNBLOCKED (candidates cross lang×source), so a recall
    loss in the LSH banding cannot hide behind the generator under
    test. O(docs × prefix) shuffle, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    # hash order (array_sort) rather than frequency order here: 3-gram
    # xxhash64 shingles are near-unique, so posting lists are already
    # short and the AllPairs rare-first reorder would cost more than it
    # saves (unlike the skewed-df token join above — measured).
    base = _materialize_once(
        _shingle_df(docs).select(
            "doc_id", F.array_sort("sh").alias("sh"), F.size("sh").alias("sz")
        )
    )
    # Asymmetric AllPairs prefixes + integer PPJoin positional filter
    # (round 12) — the exact machinery of :func:`ngram_jaccard_pairs`
    # (see the soundness notes there), applied to the sorted shingle-
    # hash arrays: candidates generated size-ordered, the smaller side
    # indexes only its mid-prefix |A| − ⌊(2t/(1+t))·|A|⌋ + 1, the
    # first-common-shingle overlap bound prunes rows BEFORE the
    # exchange + distinct, and the exact-Jaccard verify downstream
    # keeps every pruning semantics-safe. The join key is already a
    # 64-bit shingle hash — no re-hash needed.
    import math as _math

    plen = (F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    c2 = 2.0 * threshold / (1.0 + threshold)
    plen_idx = (
        F.col("sz") - F.floor(F.lit(c2) * F.col("sz") - F.lit(1e-9)) + 1
    ).cast("int")

    def _pref(plen_col):
        return base.select(
            "doc_id", "sz",
            F.posexplode(F.slice("sh", F.lit(1), plen_col)).alias("pidx", "ph"),
        )

    a = _pref(plen_idx).alias("a")
    b = _pref(plen).alias("b")
    tbp = int(_math.floor(threshold * 10000))
    overlap_ub = (
        F.lit(1)
        + F.least(
            F.col("a.sz") - 1 - F.col("a.pidx"),
            F.col("b.sz") - 1 - F.col("b.pidx"),
        )
    ).cast("long")
    size_order = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.ph") == F.col("b.ph"))
            & size_order
            & (F.col("a.sz").cast("long") * 10000 >= F.lit(tbp) * F.col("b.sz"))
            & (
                F.lit(10000 + tbp) * overlap_ub
                >= F.lit(tbp) * (F.col("a.sz").cast("long") + F.col("b.sz"))
            ),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter / union.cast("double"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# LSH s-curve P(candidate | J=s) = 1 - (1 - s^r)^b for the repo's
# r=4 rows × b=8 bands, evaluated ONCE in Python at band midpoints and
# inlined as literals into BOTH engines (the BH-crit discipline: JVM
# Math.pow and C libm pow are each ≤1 ulp but not bit-identical, so
# neither engine evaluates the curve).
def _lsh_theory_micro(bands_bp: list[int], r: int = 4, b: int = 8) -> list[int]:
    import math
    out = []
    for lo in bands_bp:
        s = (lo + 250) / 10000.0
        p = 1.0 - (1.0 - s**r) ** b
        out.append(int(math.floor(p * 1e6 + 0.5)))
    return out


_LSH_BANDS_BP = [5000 + 500 * i for i in range(10)]


def lsh_operating_point_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E405: MinHash-LSH operating-point report — measured recall
    per exact-Jaccard band against the s-curve theory. Complements
    E399 (which measures what BLOCKING loses): here the approximation
    under audit is the LSH candidate generator itself.

    Ground truth = :func:`shingle_jaccard_pairs` (exact, unblocked,
    prefix-filter — independent machinery from the banding under
    test); found = :func:`minhash_lsh_pairs` verified output. Rows:
    one per 0.05-wide Jaccard band in [0.5, 1.0] that contains true
    pairs, with true/found counts, measured recall ppm, and the
    theoretical candidate probability at the band midpoint — the
    table that says whether 8×4 banding is the right operating point
    for this corpus or bands/rows need retuning."""
    truth = shingle_jaccard_pairs(spark, sf_dir, 0.5).select(
        "doc_a",
        "doc_b",
        F.least(
            F.expr("cast(floor(jaccard * 10000) as long) div 500 * 500"),
            F.lit(9500),
        ).alias("band_lo_bp"),
    )
    found = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    theory = _lsh_theory_micro(_LSH_BANDS_BP)
    theory_arr = F.array(*[F.lit(t) for t in theory])
    return (
        truth.join(found, ["doc_a", "doc_b"], "left")
        .groupBy("band_lo_bp")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_lsh_found"),
        )
        .select(
            "band_lo_bp",
            "n_true_pairs",
            "n_lsh_found",
            F.expr("n_lsh_found * 1000000 div n_true_pairs").alias(
                "recall_ppm"
            ),
            F.element_at(
                theory_arr,
                ((F.col("band_lo_bp") - 5000) / 500).cast("int") + 1,
            ).cast("long").alias("theory_candidate_micro"),
        )
    )


def kcore_summary_sweep(
    spark: SparkSession, sf_dir: str, ks: tuple = (2, 3)
) -> DataFrame:
    """EXT E409: multi-k k-core FIXPOINT summary — extends E223's
    bounded single-k peel (:func:`kcore_decomposition`, 3 rounds at
    k=2, per-node output) along the two axes a density survey needs:
    peel to PROVEN fixpoint (loop until the survivor count stops
    moving, not a fixed round budget) and sweep k, emitting one
    summary row per k (core size in nodes/edges) — the curve that says
    how deep the corpus's dense duplication nuclei go.

    Each round is one groupBy + two semi-joins on the (shrinking) edge
    relation, lineage-cut; at 100 TB rounds are O(log) on real graphs
    and every step is edge-partitioned — no vertex ever collects its
    neighborhood. The oracle unrolls the same peeling a fixed 6 rounds
    and carries an ``n_unstable`` guard column — 0 means its unrolled
    depth reached the same fixpoint the Spark loop proved, so
    convergence itself is gated, not assumed.
    """
    pairs = dedup_edges(spark, sf_dir, 0.5).select("doc_a", "doc_b")
    und = _cut_lineage(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .distinct()
    )
    out = None
    for k in ks:
        e = und
        n_prev = -1
        while True:
            keep = (
                e.groupBy("u")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k)
                .select("u")
            )
            n_now = keep.count()
            if n_now == n_prev:
                break
            n_prev = n_now
            e = _cut_lineage(
                e.join(keep, "u", "left_semi").join(
                    keep.withColumnRenamed("u", "v"), "v", "left_semi"
                )
            )
        row = e.agg(
            F.lit(k).alias("k"),
            F.count_distinct("u").alias("n_core_nodes"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_core_edges"),
            F.lit(0).cast("long").alias("n_unstable"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def golden_record_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E413: golden-record survivorship — the MDM step after
    clustering: E26 picks a canonical by min-id (stable, arbitrary);
    production keeps the BEST member and merges cluster-level facts.
    Survivorship rule here: keep the longest text (ties → min doc_id),
    and carry the merged evidence a steward needs — member count,
    distinct sources/langs (a cross-source cluster is a syndication
    signal, not an ingest bug), total vs kept chars (the mass dedup
    removes). One partitioned window at cluster grain (bounded by
    cluster size), aggregates map-side; the oracle recomputes the
    same survivorship over the recursive-CTE closure."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.length("text").cast("long").alias("len")
    )
    members = dup_clusters(spark, sf_dir, threshold).select(
        "doc_id", "cluster_id"
    ).join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("len"), F.asc("doc_id")
    )
    ranked = members.withColumn("rn", F.row_number().over(w))
    facts = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("len").alias("total_chars"),
    )
    survivors = ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("len").alias("keep_chars"),
        F.col("source").alias("keep_source"),
    )
    return survivors.join(facts, "cluster_id")


def _unblocked_edges(spark: SparkSession, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    """Write-once/read-many UNBLOCKED near-dup edge artifact at the
    given threshold — shared by the blocking-recall audit (E399) and
    the v3 leakage split (E415) so the corpus-wide prefix-filter join
    is paid once (per artifact store — shared across processes since
    round 6 via ``layout.claim_artifact``), not once per consumer."""
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    def _build(stage: str) -> None:
        ngram_jaccard_pairs(
            spark, sf_dir, threshold, blocked=False
        ).write.parquet(stage)

    key = f"ubedges_t{int(round(threshold * 10000))}_" + source_salt(sf_dir, "documents")
    return spark.read.parquet(claim_artifact(spark, key, _build))


def _exact_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content-hash star edges (each duplicate group's docs
    linked to the group's min id) — shared by the v2/v3 split units."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    return (
        hashed.join(
            hashed.groupBy("h").agg(
                F.min("doc_id").alias("root"), F.count(F.lit(1)).alias("sz")
            ),
            "h",
        )
        .filter((F.col("sz") > 1) & (F.col("doc_id") != F.col("root")))
        .select(F.col("root").alias("src"), F.col("doc_id").alias("dst"))
    )


def _split_unit_labels(
    spark: SparkSession, sf_dir: str, threshold: float, unblocked: bool
) -> DataFrame:
    """Write-once/read-many SPLIT-UNIT label artifact: connected
    components over (near-dup edges ∪ exact-hash star edges), the unit
    relation of the E397/E415 leakage-safe splits. Round 12: E397
    built these labels once and E415 built BOTH variants again —
    three iterative CC runs per bench pass for two distinct label
    relations. Same ``claim_artifact`` discipline as the edge tables;
    keyed by threshold and edge variant. Returns
    (v, cluster_id) exactly as :func:`connected_components` does."""
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    variant = "ub" if unblocked else "bl"
    key = (
        f"splitunits_{variant}_t{int(round(threshold * 10000))}_"
        + source_salt(sf_dir, "documents")
    )

    def _build(stage: str) -> None:
        if unblocked:
            nd = _unblocked_edges(spark, sf_dir, threshold).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        else:
            nd = dedup_edges(spark, sf_dir, threshold).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        connected_components(
            nd.unionByName(_exact_star_edges(spark, sf_dir))
        ).write.parquet(stage)

    return spark.read.parquet(claim_artifact(spark, key, _build))


def leakage_safe_split_v3(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    val_pct: int = 20,
) -> DataFrame:
    """EXT E415: the round-5 audit→fix→re-certify sequel to E396/E397.
    E399 MEASURED lang×source blocking recall at this corpus's
    near-dup tier (12,780 ppm at sf0.1 — 2.93 M true pairs cross
    blocks), which means E397's v2 split units (BLOCKED near-dup CC ∪
    exact-hash star edges) still let cross-block NEAR duplicates —
    non-byte-identical rewrites of the same text under a different
    lang/source label — straddle the train/val boundary. This query
    quantifies the v2 exposure against the UNBLOCKED truth, then fixes
    it: v3 units = connected components over UNBLOCKED edges ∪ exact
    star edges, so no true pair at the threshold can straddle BY
    CONSTRUCTION; both versions' checks ship in one output (the v2
    row's violations are the finding, the v3 rows re-certify zero).

    Scale: the unblocked edge relation is the E399 artifact (rare-
    first prefix-filter join, built once per artifact store); CC is the same
    min-label/star-contraction machinery as every cluster op.
    """
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    exact_edges = _exact_star_edges(spark, sf_dir)
    ub_edges = _unblocked_edges(spark, sf_dir, threshold).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )

    def assign(cc: DataFrame) -> DataFrame:
        return (
            docs.select("doc_id")
            .join(
                cc.select(F.col("v").alias("doc_id"), "cluster_id"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.when(
                    md5_bucket(
                        F.coalesce(F.col("cluster_id"), F.col("doc_id")), 100
                    )
                    < val_pct,
                    F.lit("val"),
                )
                .otherwise(F.lit("train"))
                .alias("split"),
            )
        )

    # both unit-CC label relations served from the shared artifact —
    # the v2 units are IDENTICAL to E397's (one build serves both
    # queries), the v3 units are built once per artifact store
    a_v2 = assign(_split_unit_labels(spark, sf_dir, threshold, unblocked=False))
    a_v3 = assign(_split_unit_labels(spark, sf_dir, threshold, unblocked=True))

    def straddle(edges: DataFrame, asg: DataFrame, name: str) -> DataFrame:
        return (
            edges.join(
                asg.select(F.col("doc_id").alias("src"), F.col("split").alias("sa")),
                "src",
            )
            .join(
                asg.select(F.col("doc_id").alias("dst"), F.col("split").alias("sb")),
                "dst",
            )
            .agg(
                F.count(F.lit(1)).alias("n_checked"),
                F.coalesce(
                    F.sum((F.col("sa") != F.col("sb")).cast("long")), F.lit(0)
                ).alias("n_violations"),
            )
            .select(F.lit(name).alias("check"), "n_checked", "n_violations")
        )

    return (
        straddle(ub_edges, a_v2, "v2_unblocked_near_dup_straddle")
        .unionByName(straddle(ub_edges, a_v3, "v3_unblocked_near_dup_straddle"))
        .unionByName(straddle(exact_edges, a_v3, "v3_exact_dup_straddle"))
        .select(
            "check",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


def dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str, thresholds: tuple = (0.5, 0.65, 0.8)
) -> DataFrame:
    """EXT E416: dedup ROI curve — what each Jaccard threshold would
    remove, measured, so the threshold is a decision instead of a
    default. Per threshold: true pair count, docs touched, clusters,
    and the token mass a keep-one-per-cluster policy deletes. All
    thresholds FILTER the one materialized floor-0.5 edge artifact
    (edges at a higher threshold are a subset — the family's
    build-once design), so the sweep costs one CC per threshold over a
    shrinking edge set, never a rebuild.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("nt")
    )
    out = None
    for t in thresholds:
        pairs = dedup_edges(spark, sf_dir, t).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        # per-threshold labels through the dup_clusters artifact: the
        # 0.8 build is shared with the nine other cluster consumers;
        # 0.5/0.65 are built here once per artifact store instead of per run
        # of this query
        members = dup_clusters(spark, sf_dir, t).select(
            "doc_id", "cluster_id"
        ).join(docs, "doc_id")
        row = (
            members.agg(
                F.count(F.lit(1)).alias("n_docs_touched"),
                F.count_distinct("cluster_id").alias("n_clusters"),
                F.sum("nt").alias("_toks_all"),
                F.sum(
                    F.when(F.col("doc_id") == F.col("cluster_id"), F.col("nt"))
                    .otherwise(0)
                ).alias("_toks_kept"),
            )
            .crossJoin(
                F.broadcast(
                    pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
                )
            )
            .select(
                F.lit(int(round(t * 100))).cast("int").alias("threshold_pct"),
                "n_pairs",
                "n_docs_touched",
                "n_clusters",
                (F.col("_toks_all") - F.col("_toks_kept")).alias(
                    "tokens_removable"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def paraphrase_contamination_report(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    benchmark_source: str = "src0",
) -> DataFrame:
    """EXT E417: PARAPHRASE-level benchmark contamination — the tier
    E27's shared-n-gram probe cannot see (a reworded leak shares few
    exact 5-grams but keeps a high token-set Jaccard) and the blocked
    joins structurally cannot reach (a benchmark doc leaked under a
    training source label is BY DEFINITION cross-block). Rides the
    already-built unblocked edge artifact (E399/E415 — marginal cost
    is one scan), so the expensive corpus-wide join is paid once per
    process and this report is nearly free.

    Per training source: contaminated-pair count vs the benchmark
    source, distinct benchmark docs reached, distinct training docs
    implicated — the per-source action list a decontamination pass
    works through."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _unblocked_edges(spark, sf_dir, threshold)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    cross = j.filter(
        (F.col("sa") == benchmark_source) != (F.col("sb") == benchmark_source)
    ).select(
        F.when(F.col("sa") == benchmark_source, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("bench_doc"),
        F.when(F.col("sa") == benchmark_source, F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("train_doc"),
        F.when(F.col("sa") == benchmark_source, F.col("sb"))
        .otherwise(F.col("sa"))
        .alias("train_source"),
    )
    return cross.groupBy("train_source").agg(
        F.count(F.lit(1)).alias("n_contaminated_pairs"),
        F.count_distinct("bench_doc").alias("n_bench_docs_reached"),
        F.count_distinct("train_doc").alias("n_train_docs_implicated"),
    )


def syndication_matrix(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E418: cross-source syndication matrix — which source pairs
    share near-duplicate content, the data-sourcing dashboard that
    decides which feeds are redundant purchases. One scan of the
    unblocked edge artifact joined to doc metadata; source pairs are
    canonicalized (least, greatest) so the matrix is upper-triangular
    including the diagonal (within-source redundancy)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _unblocked_edges(spark, sf_dir, threshold)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    j = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_1"),
            F.greatest("sa", "sb").alias("source_2"),
        )
    )
    return j.groupBy("source_1", "source_2").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def cluster_modularity_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """EXT E428: Newman modularity of the dup-cluster partition over
    the near-dup graph — the one-number answer to "is this clustering
    real structure or an artifact of the threshold?" that belongs next
    to every E26/E201 consumer:
    Q = Σ_c [ e_c/m − (deg_c / 2m)² ] (fraction of edges inside
    clusters minus the expectation under the degree-preserving null).
    Near 0 ⇒ the partition is no better than random wiring; CC on a
    clean near-dup graph should sit high (every edge is intra-cluster
    by construction, so the report's value is the null-model term —
    how much of that perfection mere degree structure explains).

    Exactness: e_c, deg_c and m are exact integers off the shared edge
    artifact; Q is two integer-ratio divisions and one subtract done
    identically in both engines, micro-floored. One scan + one tiny
    aggregate — rides ``dedup_edges``, adds no join on the data grain.
    """
    edges = dedup_edges(spark, sf_dir, threshold).select("doc_a", "doc_b")
    # labels from the dup_clusters artifact: same CC over the same edge
    # relation, served as a scan (guide §2.4)
    labels = dup_clusters(spark, sf_dir, threshold).select(
        "doc_id", "cluster_id"
    )
    la = labels.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb"))
    tagged = edges.join(la, "doc_a").join(lb, "doc_b")
    m = tagged.count()
    # degree sums per cluster: each edge contributes 1 to both endpoints
    deg = (
        tagged.select(F.col("ca").alias("c"))
        .unionAll(tagged.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("deg_c"))
    )
    intra = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    per_c = deg.join(intra, "c", "left").select(
        "c",
        F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
        "deg_c",
    )
    sums = per_c.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("e_c").alias("se"),
        F.sum(F.col("deg_c") * F.col("deg_c")).alias("sd2"),
    )
    # Q from exact integers in one double expression (identical IEEE
    # shape in the oracle): se/m − sd2/(4m²); all operands < 2^53.
    q = (
        F.col("se").cast("double") / F.lit(float(m))
        - F.col("sd2").cast("double") / F.lit(4.0 * m * m)
    )
    return sums.select(
        F.lit(m).cast("long").alias("m_edges"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.floor(q * 1e6 + F.lit(0.5)).cast("long").alias("modularity_micro"),
    )


def personalized_pagerank(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8,
    iters: int = 3, k: int = 20,
) -> DataFrame:
    """EXT E441: PERSONALIZED PageRank over the near-dup graph, seeded
    at the benchmark source (src0) — the GRADED contamination-risk
    ranking that completes the contamination family: E27/E417 flag
    direct hits, E178 computes the hard taint closure (in/out), and
    this op answers the triage question between those extremes —
    "which training documents sit CLOSEST to benchmark material
    through any number of near-dup hops, and how close?" Restart mass
    teleports to the seed set instead of uniformly (Haveliwala 2002),
    so rank decays geometrically with graph distance from benchmarks.

    :func:`ppb_pagerank` with unit edge weights and the seed teleport
    ``e = 1e9 div |seeds|`` on seeds, 0 elsewhere (propagation = 85 %
    of pr div deg), so every engine/partitioning yields identical longs
    and the DuckDB oracle unrolls the ``iters`` levels MATERIALIZED.
    Output: top-k NON-seed documents by rank (the actionable review
    queue).

    The graph is the UNBLOCKED edge artifact (E399) by necessity, not
    preference: lang×source blocking makes every neighbor of a seed a
    seed (src0 only joins src0), so seed-personalized rank can never
    leave the benchmark — the E415 lesson again, from the ranking
    side. Cross-source contamination analysis REQUIRES cross-block
    edges.
    """
    pairs = _unblocked_edges(spark, sf_dir, threshold).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .withColumn("w", F.lit(1))
        .transform(_cut_lineage)
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    nodes = (
        edges.groupBy("src").agg(F.count("*").alias("wdeg"))
        .select(F.col("src").alias("v"), "wdeg")
        .join(docs, F.col("v") == docs.doc_id)
        .select("v", "wdeg", (F.col("source") == "src0").alias("is_seed"))
    )
    nseed = F.broadcast(
        nodes.filter("is_seed").agg(F.count(F.lit(1)).alias("ns"))
    )
    base = nodes.join(nseed).select(
        "v", "wdeg", "is_seed",
        F.expr(
            "case when is_seed then 1000000000 div ns else cast(0 as bigint) end"
        ).alias("e"),
    )
    pr = ppb_pagerank(edges, base, iters)
    from pyspark.sql import Window as W

    # TakeOrdered first (no global window over the node relation);
    # the rank window then runs over <=k rows
    top = (
        pr.filter(~F.col("is_seed") & (F.col("pr") > 0))
        .orderBy(F.col("pr").desc(), F.col("v"))
        .limit(k)
    )
    wr = W.orderBy(F.col("pr").desc(), F.col("v"))
    return top.withColumn("rank", F.row_number().over(wr)).select(
        F.col("v").alias("doc_id"), F.col("wdeg").alias("deg"),
        F.col("pr").alias("ppr_ppb"),
        F.col("rank").cast("long").alias("rank"),
    )


def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str, window: int = 4, tau_milli: int = 500
) -> DataFrame:
    """EXT E484: sorted-neighborhood blocking (Hernández & Stolfo
    1995/1998 — THE classic record-linkage blocking method beside
    LSH): sort the corpus by a deterministic key, compare only records
    within a sliding window of ``window`` positions, and verify the
    candidates exactly. Where MinHash-LSH (E2) buckets by content
    sketch, SNM exploits the sort ORDER — near-identical records
    (shared prefixes, template families) land adjacent, so candidate
    count is a flat (window−1)·N regardless of similarity skew.

    Key = first 24 chars of whitespace-normalized lowercase text.
    The global rank uses :func:`~parquet_to_csv_spark.operators.
    relational.banded_row_number` (band = first key byte — monotone in
    the key), so no task ever sorts the whole corpus; the window join
    is ``window−1`` keyed equi-joins on rank+offset (one exchange each,
    exactly the multi-pass SNM of the original paper). Verification is
    exact distinct-token Jaccard per candidate — O(w·N), never N².

    Emits verified pairs (Jaccard ≥ ``tau_milli``): the gate pins both
    the blocking geometry and the verifier.
    """
    from parquet_to_csv_spark.functions.textfn import normalized_text_col
    from parquet_to_csv_spark.operators.relational import banded_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(normalized_text_col("text"), 1, 24).alias("snm_key"),
        F.array_distinct(tokens_col("text")).alias("toks"),
    )
    ranked = banded_row_number(
        docs,
        ["snm_key", "doc_id"],
        F.ascii(F.substring(F.col("snm_key"), 1, 1)),
        out_col="rn",
    )
    offsets = spark.range(1, window).select(F.col("id").alias("off"))
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("rn").alias("rn_a"),
        F.col("toks").alias("toks_a"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("rn").alias("rn_b"),
        F.col("toks").alias("toks_b"),
    )
    cands = (
        a.join(F.broadcast(offsets))
        .withColumn("rn_b", F.col("rn_a") + F.col("off"))
        .join(b, ["rn_b"])
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cands.withColumn("_i", inter.cast("long"))
        .withColumn("_u", union.cast("long"))
        .filter(F.col("_u") > 0)
        .withColumn("jaccard_milli", F.expr("_i * 1000 div _u"))
        .filter(F.col("jaccard_milli") >= tau_milli)
        .select(
            F.col("doc_a"),
            F.col("doc_b"),
            F.col("off").cast("long").alias("window_offset"),
            "jaccard_milli",
        )
    )


def graph_diameter_sweep(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_hops: int = 12,
) -> DataFrame:
    """EXT E504: double-sweep diameter estimation (Magnien, Latapy &
    Habib 2009) on the near-dup graph — the standard cheap diameter
    bound: BFS from a high-degree root gives eccentricity ecc₁; a
    second BFS from the farthest node found gives ecc₂ ≥ ecc₁, a
    certified LOWER bound on the true diameter that is empirically
    tight on real graphs. Rounds out the graph tier (CC E26, PageRank
    E91, k-core E223, clustering coefficient E118, BFS reach E368).

    Both sweeps are the E368 recursive-CTE BFS with per-level DISTINCT
    (frontier contraction — levels bounded by |V|) over the
    MATERIALIZED edge artifact; the second sweep's seed is derived
    RELATIONALLY from the first (max hop, min doc_id tiebreak) — no
    driver-side collect anywhere. One summary row.
    """
    edges = dedup_edges(spark, sf_dir, threshold)
    # materialize the undirected edge relation ONCE (round 12): every
    # recursion level of BOTH sweeps joins against this view — as a
    # plain view each level re-ran the parquet scan + union + the
    # jaccard>=t filter; as a localCheckpoint each level reads cached
    # blocks
    und = _materialize_once(
        edges.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("w")
        ).unionAll(
            edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("w"))
        )
    )
    und.createOrReplaceTempView("t_diam_edges")
    root = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), F.asc("u"))
        .limit(1)
        .select(F.col("u").alias("doc_id"))
    )
    root.createOrReplaceTempView("t_diam_seed1")
    sweep1 = spark.sql(
        f"""
        WITH RECURSIVE r(doc_id, hop) AS (
          SELECT doc_id, 0 FROM t_diam_seed1
          UNION ALL
          SELECT DISTINCT e.w, r.hop + 1
          FROM r JOIN t_diam_edges e ON e.u = r.doc_id
          WHERE r.hop < {int(max_hops)}
        )
        SELECT doc_id, CAST(min(hop) AS INT) AS hop FROM r GROUP BY doc_id
        """
    )
    # cut lineage: the second sweep's view expansion would otherwise
    # NEST sweep1's recursive CTE inside its own WITH RECURSIVE (name
    # collision on r -> INVALID_RECURSIVE_REFERENCE)
    sweep1 = sweep1.localCheckpoint(eager=True)
    sweep1.createOrReplaceTempView("t_diam_sweep1")
    far = spark.sql(
        """
        SELECT min(doc_id) AS doc_id FROM t_diam_sweep1
        WHERE hop = (SELECT max(hop) FROM t_diam_sweep1)
        """
    )
    far = far.localCheckpoint(eager=True)
    far.createOrReplaceTempView("t_diam_seed2")
    sweep2 = spark.sql(
        f"""
        WITH RECURSIVE r(doc_id, hop) AS (
          SELECT doc_id, 0 FROM t_diam_seed2
          UNION ALL
          SELECT DISTINCT e.w, r.hop + 1
          FROM r JOIN t_diam_edges e ON e.u = r.doc_id
          WHERE r.hop < {int(max_hops)}
        )
        SELECT doc_id, CAST(min(hop) AS INT) AS hop FROM r GROUP BY doc_id
        """
    )
    s1 = sweep1.agg(
        F.max("hop").alias("ecc_root"),
        F.count(F.lit(1)).cast("long").alias("n_reached_root"),
    )
    s2 = sweep2.agg(
        F.max("hop").alias("diameter_lb"),
        F.count(F.lit(1)).cast("long").alias("n_reached_far"),
    )
    return (
        root.select(F.col("doc_id").alias("root_doc"))
        .join(far.select(F.col("doc_id").alias("far_doc")))
        .join(s1)
        .join(s2)
        .select(
            "root_doc", "far_doc", "ecc_root", "diameter_lb",
            "n_reached_root", "n_reached_far",
        )
    )
