"""Text analysis over ``documents`` — EXT E4/E5 + north-star text ops.

Everything here is native Column expressions (split / regexp / array
higher-order functions) — whole-stage-codegen'd JVM execution, no
Python in the loop, so a 100 TB document scan is one pass with
map-side partial aggregation wherever there's a groupBy.

Ops: per-doc stats, corpus token frequency, BPE-ish token counting,
content fingerprinting, quality scoring, heuristic language ID.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_to_csv_spark.functions.textfn import (
    fingerprint_col,
    regex_tokens_col,
    tokens_col,
)
from parquet_to_csv_spark.functions.stable import stable_avg_int
from parquet_to_csv_spark.sources.tables import load_table

# Tiny English stopword lexicon for the language-ID heuristic. At real
# scale this is a per-language broadcast dict; the mechanism (token-set
# overlap scoring, argmax over languages) is what matters.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from",
]


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: corpus statistics per language — length & token counts."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    return (
        docs.select("lang", F.length("text").alias("n_chars"), F.size(toks).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            stable_avg_int(F.sum("n_chars"), F.count(F.lit(1))).alias("avg_chars"),
            stable_avg_int(F.sum("n_tokens"), F.count(F.lit(1))).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def token_freq(spark: SparkSession, sf_dir: str, top_n: int = 20) -> DataFrame:
    """E5: global token frequency, top-n.

    explode → partial count per partition → one exchange on token →
    TakeOrderedAndProject for the top-n (no global sort). Token-skew
    (stopwords) is absorbed by the map-side partial aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_n)
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star token counting: whitespace tokens + BPE-ish lexer
    tokens (words / digit runs / single symbols) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_col("text")).alias("n_tokens_ws"),
        F.size(regex_tokens_col("text")).alias("n_tokens_bpe"),
        F.length("text").alias("n_chars"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star document fingerprinting: md5 of whitespace-normalized
    lowercase text; groups sharing a fingerprint are normalization-level
    duplicates. md5 (not xxhash64) so the oracle can reproduce it."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(fingerprint_col("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star quality scoring: cheap lexical signals → bucket.

    Signals: token count, unique-token ratio (repetition detector),
    mean token length, alphabetic character ratio. The bucket rule is
    a stand-in for a trained filter; the shape (scan → per-row exprs →
    no shuffle) is the 100 TB-relevant part.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n_tokens = F.size(toks)
    uniq_ratio = F.when(
        n_tokens > 0, F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    )
    alpha_ratio = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
        / F.length("text").cast("double"),
    )
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / n_tokens.cast("double"),
    )
    out = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(uniq_ratio, 4).alias("uniq_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
    )
    return out.withColumn(
        "quality_bucket",
        F.when(F.col("n_tokens") < 5, F.lit("too_short"))
        .when(F.col("uniq_ratio") < 0.3, F.lit("repetitive"))
        .when(F.col("alpha_ratio") < 0.5, F.lit("symbol_heavy"))
        .otherwise(F.lit("ok")),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star heuristic language ID: stopword-overlap scoring.

    Fraction of tokens that are English stopwords; >= 5% → 'en'. A real
    deployment broadcasts per-language lexicons and argmaxes — same
    plan shape, still zero shuffles (pure per-row map)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    hits = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    distinct_n = F.size(F.array_distinct(toks))
    score = F.when(distinct_n > 0, hits / distinct_n.cast("double"))
    return docs.select(
        "doc_id",
        "lang",
        F.round(score, 4).alias("en_score"),
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias("predicted_lang"),
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf — the distinctive-term
    extraction pass of a corpus-analysis pipeline.

    Plan: one explode → (doc, term) counts with map-side partial agg;
    document frequency reuses that relation (one row per doc×term, so
    ``count(*)`` per term IS df); the corpus size joins in as a
    broadcast single-row aggregate — no driver-side action.

    Determinism: ranking orders on round(tf·ln(N/df), 4) with a term
    tie-break — the rounding absorbs the ≤1-ulp cross-engine ``ln``
    difference, and rational score collisions (2·ln(N/x) = ln(N/y) has
    integer solutions) fall into the same rounded bucket where the term
    tie-break decides identically everywhere."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    )
    # tf feeds two branches; leave it unpersisted — measured: an
    # explicit persist is ~2x slower at bench SF (cache materialization
    # breaks whole-stage pipelining and costs more than recomputing
    # the narrow aggregated relation).
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df_docs")),
                4,
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df_docs", "score", "rnk")
    )


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = ("vector", "hash", "scan"),
    k: int = 10,
) -> DataFrame:
    """BM25 top-k document retrieval for a bounded query-term set —
    the classic sparse-retrieval scorer of a training-data search /
    contamination-triage stack (k1 = 1.2, b = 0.75).

    Plan shape (one corpus scan, everything else dim-sized):

    - tokens computed once per doc; the per-doc length and the
      query-term occurrences both derive from that array, and the
      explode is ARRAY-LOCAL-FILTERED first — only query-term hits
      fan out, not the whole corpus vocabulary;
    - corpus size / total length and per-term document frequency are
      one-row / |terms|-row aggregates joined back as broadcasts;
    - per-(doc, term) contributions are rounded to integer micro-units
      and summed exactly (summation order cannot flip the hash; the
      ≤1-ulp cross-engine ``ln`` difference is absorbed by the 1e-6
      rounding, same contract as :func:`tfidf_top_terms`);
    - final top-k via orderBy+limit → TakeOrderedAndProject, never a
      global sort.

    ``dl/avgdl`` is computed as ``dl · n_docs / sum_dl`` — integer
    product first, ONE double division — so both engines evaluate the
    identical float expression.
    """
    from parquet_to_csv_spark.operators.dedup import _materialize_once

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    # Round 12: the corpus agg and the two tf-subtree branches (df_
    # and contrib both re-derive tf) re-tokenized the corpus 4× —
    # materialize the tokenized relation once ("tokens computed once
    # per doc" now holds physically, not just logically).
    stats = _materialize_once(
        toks.select("doc_id", F.size("toks").alias("dl"), "toks")
    )
    corpus = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("long")).alias("sum_dl"),
    )
    term_lits = F.array(*[F.lit(t) for t in terms])
    tf = (
        stats.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter(F.col("toks"), lambda t: F.array_contains(term_lits, t))
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
    )
    norm = (
        F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 1.2
            * (0.25 + 0.75 * (F.col("dl") * F.col("n_docs")) / F.col("sum_dl"))
        )
    )
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(corpus))
        .select(
            "doc_id",
            F.round(idf * norm * 1e6).cast("long").alias("u"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            (F.sum("u") / F.lit(1e6)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    fraction of duplicated word n-gram instances and the share of the
    single most frequent n-gram (Rae et al. 2021 §A1.1 use these to
    drop boilerplate/spam before LLM training; lines/paragraphs don't
    exist in this corpus, so the n-gram family carries the signal).

    One scan, one exchange on (doc_id, n, gram) with map-side combine,
    one on doc_id — shuffle volume ∝ corpus tokens, the same shape as
    tfidf. Fractions are emitted as exact integer parts-per-million
    ((x · 1e6) div total): pure integer arithmetic, no float division
    to flip a rounding boundary cross-engine.

    Docs shorter than 3 tokens have no trigram (and a degenerate
    bigram set) — excluded, mirrored in the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens_col("text").alias("toks")).filter(
        F.size("toks") >= 3
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat("
                " transform(sequence(1, size(toks) - 1),"
                "  i -> struct(2 as n, concat_ws(' ', slice(toks, i, 2)) as gram)),"
                " transform(sequence(1, size(toks) - 2),"
                "  i -> struct(3 as n, concat_ws(' ', slice(toks, i, 3)) as gram)))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    per_gram = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("cnt"))
    per_doc = per_gram.groupBy("doc_id", "n").agg(
        F.sum("cnt").alias("total"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_n"),
    )
    dup_ppm = F.expr("((total - n_distinct) * 1000000) div total")
    top_ppm = F.expr("(top_n * 1000000) div total")
    return (
        per_doc.select("doc_id", "n", dup_ppm.alias("dup_ppm"), top_ppm.alias("top_ppm"), "total")
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("n") == 2, F.col("total"))).alias("n_bigrams"),
            F.max(F.when(F.col("n") == 2, F.col("dup_ppm"))).alias("dup_bigram_ppm"),
            F.max(F.when(F.col("n") == 2, F.col("top_ppm"))).alias("top_bigram_ppm"),
            F.max(F.when(F.col("n") == 3, F.col("total"))).alias("n_trigrams"),
            F.max(F.when(F.col("n") == 3, F.col("dup_ppm"))).alias("dup_trigram_ppm"),
        )
    )


def oov_rate(spark: SparkSession, sf_dir: str, vocab_size: int = 30) -> DataFrame:
    """Out-of-vocabulary rate per language against a corpus-derived
    top-V vocabulary — the tokenizer-coverage health check run before
    committing a vocab to an LLM training run.

    Vocabulary = top ``vocab_size`` tokens by (count desc, token asc):
    an orderBy+limit, so TakeOrderedAndProject — never a global sort —
    and the result is dim-sized and broadcast to the probe join. OOV
    fractions aggregate as exact integer token counts; the single ppm
    division per language is integer too.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens_col("text")).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000000) div n_tokens").alias("oov_ppm"),
        )
    )


def source_ngram_overlap(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Cross-source n-gram containment matrix: for every ordered source
    pair, the fraction of source A's distinct word trigrams that also
    appear in source B — the corpus-level novelty/redundancy signal
    that decides whether ingesting another crawl snapshot adds
    information or re-buys what the corpus already holds (the same
    containment quantity ``containment_quotes`` computes doc-vs-doc,
    lifted to source granularity).

    Plan: one scan → distinct (source, gram) relation (the exchange is
    on gram with map-side combine collapsing per-partition repeats) →
    gram-keyed self-join of the two sides → per-pair integer counts.
    Shuffle ∝ distinct grams per source, NOT corpus tokens; the
    self-join key (gram) is the high-cardinality side so the join
    parallelizes. Containment in exact integer ppm.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("source", tokens_col("text").alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {n})))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n_grams_a"))
    a = grams.select(F.col("source").alias("src_a"), "gram")
    b = grams.select(F.col("source").alias("src_b"), "gram")
    inter = (
        a.join(b, "gram")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_grams_a",
            F.expr("(n_shared * 1000000) div n_grams_a").alias("containment_ppm"),
        )
        .filter(F.col("src_a") != F.col("src_b"))
    )


def posting_lists(
    spark: SparkSession, sf_dir: str, shard_size: int = 100
) -> DataFrame:
    """Inverted-index build: per (token, doc-range shard) a sorted
    posting array plus document frequency — the materialization step
    behind the repo's BM25/tf-idf retrieval tier, emitted in the
    segment-sharded layout real text indexes use (Lucene segments,
    block-partitioned postings): ``shard = doc_id div shard_size``
    bounds every posting array at ``shard_size`` entries, so one
    stop-word can never produce a row the size of the corpus.

    One exchange on (token, shard) with map-side combine; arrays are
    built with ``sort_array(collect_set(...))`` so content is
    set-exact and order-canonical regardless of partitioning. The
    digest column makes the array hash-checkable even for gates that
    compare scalars only.
    """
    docs = load_table(spark, sf_dir, "documents")
    posts = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("token"))
        .withColumn("shard", F.expr(f"doc_id div {shard_size}"))
        .groupBy("token", "shard")
        .agg(
            F.sort_array(F.collect_set("doc_id")).alias("postings"),
        )
    )
    return posts.select(
        "token",
        "shard",
        F.size("postings").alias("df_shard"),
        F.md5(F.concat_ws(",", F.col("postings").cast("array<string>"))).alias(
            "postings_md5"
        ),
    )


def bpe_learn(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """BPE tokenizer training — the first ``k`` merge rules learned
    from the corpus, as PURE relational string algebra (no UDF): the
    step every LLM data pipeline runs before token counting, usually
    with an external trainer; here the inner loop (count adjacent
    symbol pairs → take the most frequent → merge it everywhere) runs
    as k unrolled DataFrame levels, and the DuckDB oracle replays the
    identical recurrence as k CTE levels.

    Representation trick that keeps everything engine-portable: a
    word's symbol sequence is a string `` a b c`` (space before every
    symbol). The greedy left-to-right BPE merge of pair (x, y) is then
    EXACTLY ``replace(s, ' x y', ' xy')`` — SQL ``replace`` consumes
    non-overlapping matches left to right, which is the BPE merge
    order, and the leading-space framing cannot false-match inside
    multi-character symbols. No lambda-fold or per-row Python.

    Scale shape: BPE always trains on the (distinct word, freq)
    relation, not the corpus — one exchange builds it, and every
    iteration is a map (replace) + one partial-agg pair count whose
    distinct-pair relation is tiny + a 1-row argmax broadcast back.
    Lineage is truncated per level with ``localCheckpoint`` like the
    other iterative operators (PageRank, k-means). Ties break
    lexicographically; counts are exact longs — the learned merge
    table is bit-identical on any engine or partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    cur = words.select(
        "freq", F.regexp_replace("word", "(.)", " $1").alias("s")
    ).localCheckpoint(eager=False)

    steps = []
    for step in range(1, k + 1):
        pairs = cur.select(
            "freq",
            F.explode(
                F.expr(
                    "CASE WHEN size(split(ltrim(s), ' ')) >= 2 THEN"
                    " transform(sequence(1, size(split(ltrim(s), ' ')) - 1),"
                    "  i -> struct(element_at(split(ltrim(s), ' '), i) AS lhs,"
                    "              element_at(split(ltrim(s), ' '), i + 1) AS rhs))"
                    " ELSE array() END"
                )
            ).alias("p"),
        ).select("freq", "p.lhs", "p.rhs")
        top = (
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("freq").alias("n_occ"))
            .orderBy(F.desc("n_occ"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .select(F.lit(step).alias("step"), "lhs", "rhs", "n_occ")
            .localCheckpoint(eager=False)
        )
        steps.append(top)
        cur = (
            cur.crossJoin(
                F.broadcast(
                    top.select(F.col("lhs").alias("_l"), F.col("rhs").alias("_r"))
                )
            )
            .select(
                "freq",
                F.expr(
                    "replace(s, ' ' || _l || ' ' || _r, ' ' || _l || _r)"
                ).alias("s"),
            )
            .localCheckpoint(eager=False)
        )
    out = steps[0]
    for t in steps[1:]:
        out = out.unionByName(t)
    return out.select(
        "step", "lhs", "rhs", F.concat(F.col("lhs"), F.col("rhs")).alias("merged"), "n_occ"
    )


def pmi_bigrams(
    spark: SparkSession, sf_dir: str, min_count: int = 5, k: int = 20
) -> DataFrame:
    """Collocation detection: top-k word bigrams by pointwise mutual
    information — the classic phrase-mining signal (multi-word
    expressions score high because they co-occur far above chance).

    Plan: ONE token pass feeds both relations — adjacent-pair bigram
    counts (explode of an array-local zip, shuffle ∝ distinct bigrams
    with map-side combine) and unigram counts; corpus totals join in
    as one-row broadcasts; top-k is TakeOrderedAndProject, never a
    global sort.

    Determinism: PMI = ln(c_xy·U²/(T·c_x·c_y)) is assembled from
    per-count integer micro-nats — ``u(k) = round(ln(k)·1e6)`` (ln of
    an integer is irrational for k>1, so the half-way boundary is
    never hit; the ≤1-ulp cross-engine ln difference cannot flip it) —
    as ``u(c_xy) + 2·u(U) − u(T) − u(c_x) − u(c_y)``: exact long
    addition, no float products that could overflow or reassociate.
    Ranking and ties resolve on (pmi_unats, w1, w2) — total order.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_col("text").alias("toks")).filter(F.size("toks") >= 2)
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    uni = (
        docs.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    tot_b = F.broadcast(bi.agg(F.sum("n_xy").alias("t_bi")))
    tot_u = F.broadcast(uni.agg(F.sum("n_w").alias("t_uni")))

    def _unats(c) -> F.Column:
        return F.round(F.log(c.cast("double")) * 1e6, 0).cast("long")

    scored = (
        bi.filter(F.col("n_xy") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_y")), "w2")
        .join(tot_b)
        .join(tot_u)
        .select(
            "w1",
            "w2",
            "n_xy",
            (
                _unats(F.col("n_xy"))
                + 2 * _unats(F.col("t_uni"))
                - _unats(F.col("t_bi"))
                - _unats(F.col("n_x"))
                - _unats(F.col("n_y"))
            ).alias("pmi_unats"),
        )
    )
    return scored.orderBy(F.desc("pmi_unats"), "w1", "w2").limit(k)


def feature_hashing(spark: SparkSession, sf_dir: str, n_features: int = 1024) -> DataFrame:
    """The hashing trick: each document's term frequencies folded into a
    fixed ``n_features``-dimensional signed sparse vector — the
    vocabulary-free vectorizer (no dictionary to build, ship, or keep
    consistent across training runs).

    Index and sign derive from md5 of the term (independent salts) via
    corpus.md5_bucket — portable hex-digit arithmetic, since Spark's
    ``conv`` has no DuckDB twin — so the vectors are reproducible
    across engines/runs, unlike ``HashingTF``'s engine-private murmur.
    ``n_features`` is capped at the bucket helper's 16-bit range
    (4096 here). The sparse vector
    is surfaced as an order-canonical digest (entries sorted by index,
    ``idx:val`` joined) plus nnz/L1 summaries, making a per-row array
    result hash-checkable by the gate (same trick as posting_lists).

    One explode + one (doc, idx) exchange with map-side combine; the
    per-doc fold is array-local. No Python, no UDFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from parquet_to_csv_spark.operators.corpus import md5_bucket

    idx = md5_bucket(F.col("term"), n_features).cast("long").alias("idx")
    sign = F.when(
        md5_bucket(F.concat(F.lit("sign:"), F.col("term")), 2) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    cells = (
        tf.select("doc_id", idx, (sign * F.col("tf")).alias("sv"))
        .groupBy("doc_id", "idx")
        .agg(F.sum("sv").alias("val"))
        .filter(F.col("val") != 0)
    )
    return (
        cells.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sum(F.abs("val")).alias("l1"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("idx", "val"))),
                        lambda s: F.concat_ws(":", s.idx.cast("string"), s.val.cast("string")),
                    ),
                    ",",
                )
            ).alias("vec_digest"),
        )
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval composition: confusion matrix of the heuristic
    language-ID against the corpus's true ``lang`` labels, with each
    cell's share of its true-label row in exact integer ppm — the
    quality readout any filtering heuristic needs before it gates a
    corpus.

    One scan (the predictions are a pure per-row map), one tiny
    grouped count, one broadcast join back for the row shares.
    """
    pred = lang_id(spark, sf_dir)
    conf = pred.groupBy(
        F.col("lang").alias("true_lang"), "predicted_lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    totals = conf.groupBy("true_lang").agg(F.sum("n_docs").alias("n_true"))
    return (
        conf.join(F.broadcast(totals), "true_lang")
        .select(
            "true_lang",
            "predicted_lang",
            "n_docs",
            F.expr("n_docs * 1000000 div n_true").alias("share_ppm"),
        )
    )


def calibration_bins(spark: SparkSession, sf_dir: str, n_bins: int = 10) -> DataFrame:
    """Calibration (reliability) curve of the lang-ID score: documents
    bucketed into score deciles, each bin reporting mean predicted
    score vs empirical positive rate — the eval that tells you whether
    a filter's scores can be thresholded or merely ranked.

    ``ntile`` semantics run over the UNIQUE total order (score units,
    doc_id) so bin boundaries are engine-stable (order_value_deciles
    convention), computed by ``relational.distributed_ntile``
    (score-banded local ranks + broadcast band offsets — no
    unpartitioned window over the documents); the score's 4-dp
    rounding makes its integer units exact, so bin means are floored
    integer divisions — no float aggregation anywhere.
    """
    from parquet_to_csv_spark.operators.relational import distributed_ntile

    pred = lang_id(spark, sf_dir).select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("is_pos"),
        F.floor(F.col("en_score") * 10000 + 0.5).cast("long").alias("score_e4"),
    )
    binned = distributed_ntile(
        pred,
        "score_e4",
        "doc_id",
        n_bins,
        F.expr("score_e4 div 500"),
        out_col="bin",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_pos").alias("n_pos"),
            F.sum("score_e4").alias("s_units"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.expr("n_pos * 1000000 div n_docs").alias("pos_rate_ppm"),
            F.expr("s_units div n_docs").alias("mean_score_e4"),
        )
    )


def vocab_dictionary(spark: SparkSession, sf_dir: str, v: int = 1000) -> DataFrame:
    """Tokenizer vocabulary builder: the top-``v`` tokens by corpus
    frequency, assigned contiguous ids in (freq desc, token) order,
    with each token's CUMULATIVE corpus coverage in ppm — the table
    that decides vocab size ("how many ids to reach 95% coverage?").

    Plan: token counts (one exchange, map-side combine) →
    TakeOrderedAndProject for the top-v (never a global sort of the
    vocab) → id + running coverage via one window over v rows (tiny
    by construction) with the corpus total as a one-row broadcast.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = F.broadcast(counts.agg(F.sum("freq").alias("t_total")))
    top = counts.orderBy(F.desc("freq"), F.asc("token")).limit(v)
    w = Window.orderBy(F.desc("freq"), F.asc("token")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        top.join(total)
        .withColumn("token_id", F.row_number().over(
            Window.orderBy(F.desc("freq"), F.asc("token"))
        ))
        .withColumn("cum_freq", F.sum("freq").over(w))
        .select(
            "token_id",
            "token",
            "freq",
            F.expr("cum_freq * 1000000 div t_total").alias("coverage_ppm"),
        )
    )


def boilerplate_ngrams(
    spark: SparkSession, sf_dir: str, n: int = 6, k: int = 20
) -> DataFrame:
    """Boilerplate detection: the word ``n``-grams repeated across the
    most DISTINCT documents (headers, footers, templates, license
    blurbs) — the cross-document twin of repetition_stats'
    intra-document signal, and the pass that feeds line/paragraph-level
    dedup lists in corpus cleaning (C4-style).

    One scan → per-doc DISTINCT grams (array-local, so a gram repeated
    inside one doc counts once) → one gram-keyed exchange with
    map-side combine → TakeOrderedAndProject top-k. Doc share in exact
    integer ppm of the corpus document count.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", tokens_col("text").alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(toks) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(toks, i, {n})))"
                    )
                )
            ).alias("gram"),
        )
    )
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .join(n_docs)
        .select(
            "gram",
            "doc_count",
            F.expr("doc_count * 1000000 div n_docs").alias("doc_share_ppm"),
        )
        .orderBy(F.desc("doc_count"), "gram")
        .limit(k)
    )


def vocab_drift_daily(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Day-over-day vocabulary drift: Jaccard overlap of each day's
    top-``k`` tokens with the previous day's — the cheap distribution
    monitor that catches an ingest source changing character (new
    crawl, new language, spam wave) before model metrics move.

    documents carry no timestamp, so the day key derives
    deterministically from doc_id (a stand-in for the ingest-date
    partition column a production corpus has — the plan is identical).
    Per-day top-k via one windowed rank over per-day token counts;
    consecutive days join on the gram; overlap in exact integer ppm of
    the union.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    day = (F.col("doc_id") % 10).alias("day")
    counts = (
        docs.select(day, F.explode(tokens_col("text")).alias("token"))
        .groupBy("day", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("day").orderBy(F.desc("freq"), F.asc("token"))
    top = counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )
    a = top.select(F.col("day").alias("day_a"), "token")
    b = top.select(F.col("day").alias("day_b"), "token")
    inter = (
        a.join(b, (F.col("day_b") == F.col("day_a") + 1) & (a.token == b.token))
        .groupBy("day_a", "day_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = top.groupBy("day").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("day").alias("day_a"), F.col("sz").alias("sz_a"))),
            "day_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("day").alias("day_b"), F.col("sz").alias("sz_b"))),
            "day_b",
        )
        .select(
            "day_a",
            "day_b",
            "n_shared",
            F.expr(
                "n_shared * 1000000 div (sz_a + sz_b - n_shared)"
            ).alias("jaccard_ppm"),
        )
    )


def chi2_distinctive_tokens(
    spark: SparkSession, sf_dir: str, k: int = 10, min_docs: int = 5
) -> DataFrame:
    """Chi-squared distinctive tokens per language — the SUPERVISED
    twin of tf-idf's distinctive terms: which tokens are statistically
    over-represented in one label's documents (feature selection for a
    classifier, or a drift probe on a labeled corpus).

    Per (lang, token) the 2×2 presence contingency collapses to
    ``det = a·N − n_lang·n_tok`` (a = docs of this lang containing the
    token) and ``χ² = N·det² / (n_lang·(N−n_lang)·n_tok·(N−n_tok))``.
    All contingency cells are exact longs from two keyed aggregations
    (token-keyed, high cardinality — parallel); the label margins join
    in as broadcasts. χ² itself is computed as ONE fixed IEEE-double
    expression over those identical longs in both engines (same
    parenthesization ⇒ same correctly-rounded product/division sequence
    ⇒ identical floor), reported in integer milli-units. At the 100 TB
    point the long products (a·N ≤ N²) need DECIMAL or log-space
    scoring past N ≈ 3·10⁹ documents — the aggregation plan is
    unchanged; only the final scalar expression widens.

    Positive association only (``det > 0``: token over-represented IN
    the language), support-filtered (``a ≥ min_docs``), top-``k`` per
    language by (χ², token) via one windowed rank.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(tokens_col("text"))).alias("token")
    )
    lang_n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    a_rel = pres.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("a"))
    tok_n = a_rel.groupBy("token").agg(F.sum("a").alias("n_tok"))
    scored = (
        a_rel.join(tok_n, "token")
        .join(F.broadcast(lang_n), "lang")
        .join(F.broadcast(n_total))
        .filter(
            (F.col("a") >= min_docs)
            & (F.col("n_tok") < F.col("n_total"))
            & (F.col("n_lang") < F.col("n_total"))
        )
        .withColumn("det", F.col("a") * F.col("n_total") - F.col("n_lang") * F.col("n_tok"))
        .filter(F.col("det") > 0)
        .withColumn(
            "chi2_milli",
            F.expr(
                "CAST(floor(CAST(n_total AS DOUBLE) * CAST(det AS DOUBLE)"
                " * CAST(det AS DOUBLE)"
                " / (CAST(n_lang AS DOUBLE) * CAST(n_total - n_lang AS DOUBLE)"
                " * CAST(n_tok AS DOUBLE) * CAST(n_total - n_tok AS DOUBLE))"
                " * 1000.0) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2_milli"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("lang", "token", F.col("a").alias("n_docs_in"), "chi2_milli", "rnk")
    )


def token_rank_movers(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Token rank movers: the tokens whose FREQUENCY RANK shifted most
    between the corpus's earlier and later halves (doc_id order) —
    rank deltas are the scale-free way to spot vocabulary trends
    (raw-count deltas just mirror volume growth).

    One explode → (half, token) counts; per-half ranks over the unique
    (count desc, token asc) total order via
    ``relational.banded_row_number`` grouped on the half — the band is
    (−freq, first token char), monotone in the sort key, so the
    Zipf-fat freq=1 tier splits across ~36 sub-bands instead of one
    task (deepen the prefix for larger vocabularies); an inner join on
    token (tokens present in both halves — absences are the
    vocab_drift op's job) and a global top-k by |Δrank| planned as
    TakeOrderedAndProject (per-partition heap, no global sort); the
    final mover_rnk window runs over the k surviving rows only. All
    integer arithmetic.
    """
    from pyspark.sql import Window

    from parquet_to_csv_spark.operators.relational import banded_row_number

    docs = load_table(spark, sf_dir, "documents")
    half = F.broadcast(
        docs.agg(F.expr("(min(doc_id) + max(doc_id) + 1) div 2").alias("mid"))
    )
    toks = (
        docs.join(half)
        .select(
            (F.col("doc_id") >= F.col("mid")).cast("int").alias("late"),
            F.explode(tokens_col("text")).alias("token"),
        )
        .groupBy("late", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = banded_row_number(
        toks.withColumn("negfreq", -F.col("freq")),
        ["negfreq", "token"],
        # ascii() yields the full first-char codepoint; clamp at 255 so
        # non-ASCII tokens can't produce a band above a higher-freq class
        # (banded_row_number requires the band monotone in the sort key).
        F.expr("negfreq * 256 + least(ascii(substr(token, 1, 1)), 255)"),
        out_col="rnk",
        group_cols=["late"],
    )
    a = ranked.filter(F.col("late") == 0).select(
        "token",
        # int like the row_number() it replaces — the gate is dtype-strict
        F.col("rnk").cast("int").alias("rank_early"),
        F.col("freq").alias("freq_early"),
    )
    b = ranked.filter(F.col("late") == 1).select(
        "token",
        F.col("rnk").cast("int").alias("rank_late"),
        F.col("freq").alias("freq_late"),
    )
    wr = Window.orderBy(
        F.desc(F.abs(F.col("rank_early") - F.col("rank_late"))),
        F.asc("token"),
    )
    topk = (
        a.join(b, "token")
        .orderBy(
            F.desc(F.abs(F.col("rank_early") - F.col("rank_late"))),
            F.asc("token"),
        )
        .limit(k)
    )
    return (
        topk
        # over the k surviving rows only (bounded by the limit above)
        .withColumn("mover_rnk", F.row_number().over(wr))
        .select(
            "token",
            "rank_early",
            "rank_late",
            (F.col("rank_late") - F.col("rank_early")).alias("rank_delta"),
            "freq_early",
            "freq_late",
            "mover_rnk",
        )
    )


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps-law) curve: distinct token types seen
    after each decile of the corpus in arrival (doc_id) order — the
    data behind tokenizer-vocab sizing and the "is more data still
    adding words?" question.

    Each token contributes at its FIRST occurrence (min doc_id — one
    token-keyed aggregation, no per-prefix rescans); first-occurrence
    docs map to arrival deciles by integer id-range arithmetic, and
    one calendar-bounded cumulative window yields the curve. Token
    totals per decile ride the same scan. All exact integers.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    span = F.broadcast(
        docs.agg(
            F.min("doc_id").alias("lo"), (F.max("doc_id") + 1).alias("hi")
        )
    )
    pairs = docs.select("doc_id", F.explode(tokens_col("text")).alias("token"))
    firsts = pairs.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    new_types = (
        firsts.join(span)
        .select(
            F.expr("least((first_doc - lo) * 10 div (hi - lo), 9)").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_new_types"))
    )
    tokens_per = (
        pairs.join(span)
        .select(
            F.expr("least((doc_id - lo) * 10 div (hi - lo), 9)").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        new_types.join(tokens_per, "decile", "full")
        .select(
            "decile",
            F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
        .withColumn("vocab_size", F.sum("n_new_types").over(w))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
    )


def bursty_token_leaders(
    spark: SparkSession, sf_dir: str, k: int = 20, min_tf: int = 50
) -> DataFrame:
    """Bursty-token leaders: tokens whose occurrences CONCENTRATE in
    few documents (high tf/df ratio) — the spam/template signature
    that corpus-wide frequency ranks hide (a token used 500 times
    across 3 documents is a keyword-stuffing marker, not vocabulary).

    One explode → token-keyed aggregate carrying tf (count) and df
    (distinct docs) together; burstiness = tf·1000 div df exact milli;
    support-floored deterministic top-k. Shuffle ∝ distinct
    (doc, token) after map-side combine.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", F.explode(tokens_col("text")).alias("token"))
    stats = pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return (
        stats.filter(F.col("tf") >= min_tf)
        .withColumn("burst_milli", F.expr("tf * 1000 div df"))
        .orderBy(F.desc("burst_milli"), F.asc("token"))
        .limit(k)
    )


def zipf_slope(spark: SparkSession, sf_dir: str, top_n: int = 100) -> DataFrame:
    """EXT E212: Zipf rank-frequency fit — OLS slope of ln(freq) on
    ln(rank) over the top-``top_n`` tokens. Natural corpora sit near
    slope ≈ −1; machine-generated or boilerplate-heavy corpora flatten
    or steepen it, making this a one-row corpus-naturalness gate (the
    cheap sibling of perplexity filtering).

    Shape at scale: token frequencies are one explode + groupBy with
    map-side combine; the top-N is TakeOrderedAndProject (no global
    sort); the fit runs over N rows on the driver side of the plan —
    the sufficient-statistic pattern of grouped_ols_features, one
    window over N=100 rows.

    Determinism: ranks are dense integers ordered by (freq DESC, token
    ASC); ln(rank) and ln(freq) are quantized to exact integer
    micro-units PER TERM (ln of a positive integer — identical libm
    value in both engines, same convention as user_event_entropy), so
    the OLS sums are exact long arithmetic; the final slope/intercept
    divide exact longs in one fixed IEEE expression, floored to micro
    units.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(top_n)
    )
    from pyspark.sql import Window as W

    ranked = freq.select(
        "freq",
        F.row_number()
        .over(W.orderBy(F.col("freq").desc(), F.col("token").asc()))
        .alias("rank"),
    ).select(
        F.expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)").alias("x"),
        F.expr("CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT)").alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    den = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return s.select(
        "n",
        F.expr(f"CAST(floor({num} / {den} * 1000000.0) AS BIGINT)").alias("slope_micro"),
        F.expr(
            f"CAST(floor((CAST(sy AS DOUBLE) - {num} / {den} * CAST(sx AS DOUBLE))"
            f" / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("intercept_micro"),
    )


def skipgram_pmi(
    spark: SparkSession,
    sf_dir: str,
    max_dist: int = 3,
    min_count: int = 30,
    k: int = 20,
) -> DataFrame:
    """EXT E230: skip-gram collocations — top-k ORDERED token pairs
    co-occurring within ``max_dist`` positions, scored by PMI. The
    window-2/3 co-occurrence signal (word2vec's training distribution)
    catches "not ... good"-style associations adjacency-only bigrams
    (E?) miss.

    Pair generation is ARRAY-LOCAL — for each distance d the token
    array zips with its own d-shifted slice (no posexplode self-join,
    which would be quadratic per document in the join buffer); the
    explode feeds a map-side-combined count keyed by the pair.

    PMI decomposes into per-count integer micro-nats (the pmi_bigrams
    convention): ``u(c) + u(T) − u(c_left) − u(c_right)`` — exact long
    addition; top-k is TakeOrderedAndProject on (pmi, pair).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(tokens_col("text").alias("toks"))
    dists = []
    for d in range(1, max_dist + 1):
        dists.append(
            tok.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - d, F.lit(0))),
                        F.slice(F.col("toks"), d + 1, F.greatest(F.size("toks") - d, F.lit(0))),
                    )
                ).alias("p")
            ).select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        )
    pairs = dists[0]
    for df in dists[1:]:
        pairs = pairs.unionAll(df)
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    left = pc.groupBy("w1").agg(F.sum("c").alias("cl"))
    right = pc.groupBy("w2").agg(F.sum("c").alias("cr"))
    tot = pc.agg(F.sum("c").alias("t"))

    def u(col: str) -> str:
        return f"CAST(round(ln(CAST({col} AS DOUBLE)) * 1000000) AS BIGINT)"

    return (
        pc.filter(F.col("c") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            F.expr(f"{u('c')} + {u('t')} - {u('cl')} - {u('cr')}").alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def tfidf_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    max_df: int = 50,
) -> DataFrame:
    """EXT E232: sparse TF-IDF cosine similarity join — document pairs
    with cosine ≥ τ over tf·idf-weighted sparse token vectors, via the
    inverted-index partial-dot-product formulation (the APSS / all-
    pairs-similarity-search shape): postings self-join per token, pair
    dot products accumulate only over SHARED tokens, never a dense d².

    The df cap (tokens in > ``max_df`` docs are dropped from the
    weighting) is the standard APSS posting-list bound: it caps the
    per-token join fan-out at max_df², making total shuffle
    Σ_t min(df_t, cap)² instead of unbounded stopword blowup — the
    knob that keeps the join feasible at corpus scale. The cosine is
    EXACT for the capped weighting (the cap is part of the metric's
    definition, not an approximation of it).

    Determinism: idf quantizes per token to integer milli-units
    (``round(ln(N/df)·1000)``, the ln-of-a-rational convention);
    weights tf·idf_milli are exact longs, pair dot products are exact
    long sums; norms likewise; the final cosine is one fixed IEEE
    pipeline over three exact longs, rounded at 6dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(df_.filter(F.col("df_docs") <= max_df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "doc_id",
            (
                F.col("tf")
                * F.expr(
                    "CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df_docs AS DOUBLE))"
                    " * 1000) AS BIGINT)"
                )
            ).alias("wt"),
        )
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wt") * F.col("wt")).alias("nrm2"))
    a = w.select(F.col("term").alias("t"), F.col("doc_id").alias("doc_a"), F.col("wt").alias("wa"))
    b = w.select(F.col("term").alias("t"), F.col("doc_id").alias("doc_b"), F.col("wt").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = (
        "CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm2").alias("na")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm2").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"round({cos}, 6)").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E263: hapax 3-gram profile per source — the share of a
    source's word-3-gram vocabulary that occurs exactly once
    corpus-wide, and the share of its 3-gram MASS those hapaxes carry.
    High hapax share = unique content; low = templated/boilerplate
    text repeating the same phrases (the fixture's unigram vocabulary
    is a closed 31-token set, so single-token hapaxes cannot exist —
    phrase-level rarity is the meaningful lexical-health signal here,
    read beside the Zipf slope E212 and boilerplate miner).

    Grams are generated ARRAY-LOCALLY (transform over a start-index
    sequence — no self-join); one explode feeds both the corpus-wide
    gram-frequency relation and the per-(source, gram) counts; the
    hapax flag joins back by gram (shuffle ∝ distinct grams). All
    exact integer ppm.
    """
    docs = load_table(spark, sf_dir, "documents")
    # docs with <3 tokens cannot form a 3-gram — drop them, else index 0
    # would emit a degenerate 1-/2-token "gram" into the vocabulary
    toks = docs.select("source", tokens_col("text").alias("tk")).filter(
        F.size("tk") >= 3
    )
    idx = F.sequence(F.lit(0), F.size("tk") - 3)
    grams = toks.select(
        "source",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("tk", i + 1, 3)))
        ).alias("gram"),
    )
    st = grams.groupBy("source", "gram").agg(F.count(F.lit(1)).alias("n_occ"))
    df_ = st.groupBy("gram").agg(F.sum("n_occ").alias("corpus_occ"))
    j = st.join(df_, "gram").select(
        "source",
        "n_occ",
        (F.col("corpus_occ") == 1).cast("long").alias("is_hapax"),
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("is_hapax").alias("n_hapax"),
        F.expr("sum(is_hapax) * 1000000 div count(1)").alias("hapax_vocab_ppm"),
        F.sum("n_occ").alias("gram_mass"),
        F.expr(
            "sum(CASE WHEN is_hapax = 1 THEN n_occ ELSE 0 END) * 1000000"
            " div sum(n_occ)"
        ).alias("hapax_mass_ppm"),
    )


def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E294: tokenizer fertility per language — characters per
    whitespace token (milli-units) plus the same ratio under the
    BPE-ish regex tokenizer, side by side. Fertility is THE tokenizer
    sizing number (a language at 9 chars/token packs ~2× fewer tokens
    per context window than one at 4.5); the two tokenizers' spread
    shows how much segmentation choice moves the budget.

    One scan, two array-size expressions per row (both tokenizers are
    codegen'd column expressions), one tiny language rollup — exact
    integer sums, cross-multiplied milli ratios.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = tokens_col("text")
    rx = regex_tokens_col("text")
    base = docs.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(ws).cast("long").alias("n_ws"),
        F.size(rx).cast("long").alias("n_rx"),
    ).filter((F.col("n_ws") > 0) & (F.col("n_rx") > 0))
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum("n_ws").alias("ws_tokens"),
        F.sum("n_rx").alias("rx_tokens"),
    ).select(
        "lang",
        "n_docs",
        F.expr("chars * 1000 div ws_tokens").alias("ws_fertility_milli"),
        F.expr("chars * 1000 div rx_tokens").alias("rx_fertility_milli"),
        F.expr("rx_tokens * 1000 div ws_tokens").alias("rx_per_ws_milli"),
    )


def quality_signals_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E326: UNPIVOT surface — the wide per-document quality-signal
    relation melted to (doc_id, signal, value) long form via
    ``DataFrame.unpivot`` (the metric-store layout: one row per
    measurement, schema stable as signals are added), then rolled up
    per signal. Completes the reshape pair with E6's pivot.

    Values are carried in exact 4dp integer units through the melt so
    the rollup stays engine-exact; the oracle rebuilds the long form
    with a UNION (the portable spelling of UNPIVOT).
    """
    wide = quality_score(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(round(uniq_ratio * 10000) AS BIGINT)").alias("uniq_ratio"),
        F.expr("CAST(round(alpha_ratio * 10000) AS BIGINT)").alias("alpha_ratio"),
        F.expr("CAST(round(mean_token_len * 10000) AS BIGINT)").alias(
            "mean_token_len"
        ),
    )
    long = wide.unpivot(
        ids=["doc_id"],
        values=["uniq_ratio", "alpha_ratio", "mean_token_len"],
        variableColumnName="signal",
        valueColumnName="v_4dp",
    )
    return long.groupBy("signal").agg(
        F.count("v_4dp").alias("n_measured"),
        F.sum("v_4dp").alias("sum_4dp"),
        F.expr("sum(v_4dp) div count(v_4dp)").alias("mean_4dp"),
        F.min("v_4dp").alias("min_4dp"),
        F.max("v_4dp").alias("max_4dp"),
    )


def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E342: expected calibration error — the one-number summary
    of E121's reliability bins: ``ECE = Σ (n_b/N)·|acc_b − conf_b|``
    in exact ppm, plus the worst bin and its signed gap (which tells
    you WHERE the score lies: over-confident high bins vs
    under-confident low bins). The go/no-go number before using a
    score as a probability (threshold picking, expected-cost
    decisions).

    Pure composition over the oracle-verified bins relation — exact
    integer cross-multiplied arithmetic, one tiny aggregate.
    """
    bins = calibration_bins(spark, sf_dir).select(
        "bin",
        "n_docs",
        "pos_rate_ppm",
        (F.col("mean_score_e4") * 100).alias("conf_ppm"),
    )
    gap = F.abs(F.col("pos_rate_ppm") - F.col("conf_ppm"))
    signed = F.col("pos_rate_ppm") - F.col("conf_ppm")
    return bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.expr(
            "sum(n_docs * abs(pos_rate_ppm - conf_ppm)) div sum(n_docs)"
        ).alias("ece_ppm"),
        F.max(gap).alias("max_gap_ppm"),
        F.max_by("bin", F.struct(gap, -F.col("bin"))).alias("worst_bin"),
        F.max_by(signed, F.struct(gap, -F.col("bin"))).alias(
            "worst_bin_signed_gap_ppm"
        ),
    )


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E350: isotonic (monotone non-decreasing) calibration map
    over E121's reliability bins — the PAV fit by the exact minmax
    formula ``ŷ_i = max_{j≤i} min_{k≥i} avg(y over bins j..k)``
    (doc-weighted). Raw per-bin positive rates can zig-zag on thin
    bins; thresholding needs the monotone version — this is the
    standard score→probability calibration table (isotonic beats Platt
    when the reliability curve is non-sigmoid), computed relationally.

    The bins relation is deliberately tiny (n_bins rows), so the
    (i, j, k) triple enumeration is n³ rows of integer arithmetic —
    never touches document grain. Interval averages are single IEEE
    divides of exact long sums (num ≤ 10⁶·n, collision-free in
    double); the reported fit is re-floored from the CHOSEN interval's
    integers, so output is pure ppm longs. Also flags bins the raw
    curve had out of order (what PAV pooled away).
    """
    bins = calibration_bins(spark, sf_dir).select(
        "bin", "n_docs", "n_pos", "pos_rate_ppm", "mean_score_e4"
    )
    a = bins.select(
        F.col("bin").alias("j"),
        F.col("n_docs").alias("nd"),
        F.col("n_pos").alias("np"),
    )
    b = bins.select(
        F.col("bin").alias("k"),
        F.col("n_docs").alias("nd2"),
        F.col("n_pos").alias("np2"),
    )
    # interval sums avg(j..k): every (j<=k) pair via the tiny crossJoin
    spans = (
        a.crossJoin(b)
        .filter(F.col("j") <= F.col("k"))
        .join(
            bins.select(F.col("bin").alias("m"), F.col("n_docs").alias("md"),
                        F.col("n_pos").alias("mp")),
            (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(F.sum("md").alias("cnt"), F.sum("mp").alias("pos"))
        .select(
            "j", "k", "cnt", "pos",
            (F.col("pos").cast("double") / F.col("cnt").cast("double")).alias("avg"),
        )
    )
    tri = bins.select("bin").crossJoin(
        spans.select("j", "k", "cnt", "pos", "avg")
    ).filter((F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")))
    inner = (
        tri.groupBy("bin", "j")
        .agg(
            F.min("avg").alias("mn"),
            F.expr("min_by(pos, avg)").alias("mn_pos"),
            F.expr("min_by(cnt, avg)").alias("mn_cnt"),
        )
    )
    fit = (
        inner.groupBy("bin")
        .agg(
            F.expr("max_by(mn_pos, mn)").alias("f_pos"),
            F.expr("max_by(mn_cnt, mn)").alias("f_cnt"),
        )
        .select(
            "bin", F.expr("f_pos * 1000000 div f_cnt").alias("iso_ppm")
        )
    )
    return (
        bins.join(fit, "bin")
        .select(
            "bin",
            "n_docs",
            "pos_rate_ppm",
            "mean_score_e4",
            "iso_ppm",
            (F.col("iso_ppm") != F.col("pos_rate_ppm")).cast("int").alias("pooled"),
        )
    )


def code_switching_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E359: code-switching / mixed-language detection — a doc
    whose two HALVES score differently on the stopword lexicon is
    likely a language mixture (boilerplate header in one language,
    body in another; concatenation artifacts), which whole-doc lang-ID
    (E?) silently averages away. Mixed docs poison monolingual
    training shards, so the per-source mixture rate belongs on the
    dataset card.

    Per doc: the E? stopword score on the first and second half of the
    token array (integer-exact: 4-dp floor of hits/distinct per half),
    half-disagreement in e4 units, and the mixed flag
    (|Δ| ≥ 0.05 with both halves non-trivial). Output: per source,
    docs, mixed count + ppm, and the mean |Δ| — one scan, zero
    shuffles before the per-source fold; the half split is array
    slicing, no second tokenization.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    base = docs.select("doc_id", "source", toks.alias("t"))
    half = F.expr("size(t) div 2")
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])

    def score(arr) -> F.Column:
        dn = F.size(F.array_distinct(arr))
        hits = F.size(F.array_intersect(F.array_distinct(arr), sw))
        return F.when(
            dn > 0, F.floor(hits * 10000 / dn).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    scored = base.select(
        "doc_id",
        "source",
        F.size("t").alias("n_tokens"),
        score(F.slice(F.col("t"), F.lit(1), half)).alias("s1_e4"),
        score(
            F.slice(F.col("t"), half + 1, F.size("t") - half)
        ).alias("s2_e4"),
    ).select(
        "source",
        "n_tokens",
        F.abs(F.col("s1_e4") - F.col("s2_e4")).alias("gap_e4"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("gap_e4") >= 500) & (F.col("n_tokens") >= 8)).cast("long")
            ).alias("n_mixed"),
            F.sum("gap_e4").alias("sum_gap"),
        )
        .select(
            "source",
            "n_docs",
            "n_mixed",
            F.expr("n_mixed * 1000000 div n_docs").alias("mixed_ppm"),
            F.expr("sum_gap div n_docs").alias("mean_gap_e4"),
        )
    )


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E361: Brier score decomposition (Murphy 1973) over E121's
    reliability bins — ``Brier = reliability − resolution +
    uncertainty``. ECE (E342) says HOW FAR the score is from
    calibrated; the decomposition says whether the score is USEFUL at
    all: a perfectly calibrated score with zero resolution never
    separates the classes, and recalibration (E350's isotonic map) can
    remove reliability but can never add resolution — so this is the
    keep-or-drop decision number for a quality/lang score.

    All three terms in exact micro units (1e−6 of the Brier scale)
    from the bins' already-floored ppm integers, so both engines run
    the identical long arithmetic: reliability = Σ n_b·(conf−obs)²
    div N div 1e6, resolution the same against the pooled base rate,
    uncertainty = ō(1e6−ō) div 1e6. One tiny aggregate over the
    n_bins relation — never doc grain. Overflow bound: n_b·Δ² ≤
    N·10¹² — exact in a long to N ≈ 9·10⁶ bins-worth of docs per
    bin; past that carry DECIMAL(38,0), plan unchanged.
    """
    bins = calibration_bins(spark, sf_dir).select(
        "bin",
        "n_docs",
        "n_pos",
        "pos_rate_ppm",
        (F.col("mean_score_e4") * 100).alias("conf_ppm"),
    )
    tot = F.broadcast(
        bins.agg(
            F.expr("sum(n_pos) * 1000000 div sum(n_docs)").alias("obar_ppm")
        )
    )
    terms = bins.crossJoin(tot)
    return terms.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.expr(
            "sum(n_docs * (conf_ppm - pos_rate_ppm)"
            " * (conf_ppm - pos_rate_ppm)) div sum(n_docs) div 1000000"
        ).alias("reliability_micro"),
        F.expr(
            "sum(n_docs * (pos_rate_ppm - obar_ppm)"
            " * (pos_rate_ppm - obar_ppm)) div sum(n_docs) div 1000000"
        ).alias("resolution_micro"),
        F.expr(
            "min(obar_ppm * (1000000 - obar_ppm) div 1000000)"
        ).alias("uncertainty_micro"),
    ).select(
        "n_bins",
        "n_docs",
        "reliability_micro",
        "resolution_micro",
        "uncertainty_micro",
        F.expr(
            "reliability_micro - resolution_micro + uncertainty_micro"
        ).alias("brier_binned_micro"),
    )


def vocab_coverage_ladder(
    spark: SparkSession,
    sf_dir: str,
    ladder: tuple[int, ...] = (100, 300, 1000, 3000, 10000),
) -> DataFrame:
    """Vocab-size coverage ladder (E366): corpus token coverage bought
    by the top-V vocabulary for a SWEEP of sizes V — the sizing curve
    read before committing to a tokenizer vocab. E122 prices one vocab
    (per-token cumulative coverage at fixed V); this prices the menu
    (one row per candidate V), the diminishing-returns curve that
    decides "16k or 32k entries?".

    Plan: token counts (one explode + exchange with map-side combine) →
    EXACT global rank over the unique (freq desc, token) order via
    ``relational.banded_row_number`` — band −freq·256 + first-char, so
    the Zipf-fat freq=1 tier splits across ~36 sub-bands instead of one
    task — then ONE conditional aggregation over the vocab relation
    emits every ladder rung in a single pass (no per-V scan, no
    vocab × V fan-out): each rung is `sum(freq · [rank ≤ V])`. Output
    is exact integers; coverage in ppm by integer division.
    """
    from parquet_to_csv_spark.operators.relational import banded_row_number

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = banded_row_number(
        counts.withColumn("negfreq", -F.col("freq")),
        ["negfreq", "token"],
        # clamp: non-ASCII first chars must not escape their negfreq band
        F.expr("negfreq * 256 + least(ascii(substr(token, 1, 1)), 255)"),
        out_col="rnk",
    )
    aggs = [F.sum("freq").alias("total")]
    for v in ladder:
        aggs.append(
            F.sum(F.when(F.col("rnk") <= v, F.col("freq")).otherwise(0))
            .alias(f"c_{v}")
        )
        aggs.append(
            F.sum(F.when(F.col("rnk") <= v, 1).otherwise(0)).alias(f"n_{v}")
        )
    row = ranked.agg(*aggs)
    stack_args = ", ".join(f"{v}, n_{v}, c_{v}" for v in ladder)
    return row.selectExpr(
        f"stack({len(ladder)}, {stack_args})"
        " as (vocab_size, vocab_used, covered_tokens)",
        "total as total_tokens",
    ).withColumn(
        "coverage_ppm", F.expr("covered_tokens * 1000000 div total_tokens")
    )


def collated_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E373: collation-aware grouping — Spark 4 string COLLATE.

    Case-insensitive semantics declared on the TYPE (``token COLLATE
    UTF8_LCASE``) instead of materialized with ``lower()``: the
    collated comparison runs inside codegen on the original bytes, no
    derived column, and — the production point — composes with joins,
    DISTINCT and sort the same way, so one declaration fixes every
    operator downstream instead of N ``lower()`` call sites (and
    generalizes to locale-aware collations ``lower()`` can't express).

    The fixture corpus is all-lowercase, so the relation first
    re-cases tokens deterministically (upper when ``doc_id`` is odd) —
    giving every token exactly two case forms to merge. The gate
    checks the merge: grouping N mixed-case forms under UTF8_LCASE
    must reproduce the ``lower()``-keyed counts bit-for-bit (the
    DuckDB twin), with ``n_forms`` proving the merge actually saw both
    casings. Canonical display form = binary ``min`` of the raw forms.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("raw")
    ).select(
        F.when(F.col("doc_id") % 2 == 1, F.upper("raw"))
        .otherwise(F.col("raw"))
        .alias("token")
    )
    return (
        toks.groupBy(F.expr("token COLLATE UTF8_LCASE").alias("ci_token"))
        .agg(
            F.min("token").alias("canonical"),
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("token").alias("n_forms"),
        )
        .select("canonical", "n_occ", "n_forms")
    )


def bm25_dedup_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    pool: int = 30,
) -> DataFrame:
    """EXT E398: duplicate-collapsed retrieval — search-result dedup,
    the retrieval-stack twin of corpus dedup: a query whose best match
    exists in N near-identical copies should spend ONE result slot on
    that content, not N. Production shape used by every retrieval
    pipeline over un-deduplicated corpora (and the RAG answer to
    "my top-10 is the same doc ten times").

    Plan: the verified BM25 scorer produces a ``pool``-sized candidate
    list (TakeOrdered — bounded); ONE left join against the
    materialized cluster relation maps candidates to content units
    (singletons = their own unit); per unit keep the best-scoring
    member (score desc, doc_id tie-break) while counting collapsed
    members; final rank runs over the ≤pool-row relation. Every stage
    after BM25 is candidate-sized — the collapse costs nothing at any
    corpus scale.
    """
    from pyspark.sql import Window

    from parquet_to_csv_spark.operators.dedup import dup_clusters

    cands = bm25_topk(spark, sf_dir, k=pool)
    clusters = dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    units = cands.join(clusters, "doc_id", "left").select(
        "doc_id",
        "n_matched",
        "score",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("unit_id"),
    )
    wu = Window.partitionBy("unit_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    best = (
        units.withColumn("_rn", F.row_number().over(wu))
        .withColumn(
            "n_collapsed", F.count(F.lit(1)).over(Window.partitionBy("unit_id"))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    wk = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        best.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            "unit_id",
            "n_matched",
            "score",
            F.col("n_collapsed").cast("long").alias("n_collapsed"),
        )
    )


def encoding_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E404: encoding-health audit — the corpus-hygiene pass a web
    ingest runs before any text op is trusted. Per (lang, source):

    - ``n_replacement_docs`` — docs carrying U+FFFD, the decoder's
      "I gave up" marker (a lossy transcode upstream);
    - ``n_control_docs`` — docs with C0 control chars other than
      tab/newline/CR (binary bleed-through, broken scrapers);
    - ``n_mojibake_docs`` — docs matching the classic UTF-8-read-as-
      CP1252 artifacts (``â€™``-family, ``Ã©``-family, stray BOM);
    - ``nonascii_ppm`` — corpus-level non-ASCII character share, the
      drift signal that catches an encoding regression upstream even
      when no individual marker fires.

    One scan, per-group integer counters; regex classes are shared
    Java-regex/RE2 syntax so the DuckDB oracle replays them verbatim.
    At 100 TB this is a map-side-combined aggregation — no quadratic
    anything, no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    repl = "�"
    moji = "(â€|Ã[©¤¼¨¶]|ï»¿)"
    ctrl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
    return (
        docs.select(
            "lang",
            "source",
            F.col("text").contains(repl).cast("long").alias("has_repl"),
            F.col("text").rlike(ctrl).cast("long").alias("has_ctrl"),
            F.col("text").rlike(moji).cast("long").alias("has_moji"),
            F.length("text").cast("long").alias("n_chars"),
            (
                F.length("text")
                - F.length(F.regexp_replace("text", "[^\\x00-\\x7f]", ""))
            ).cast("long").alias("n_nonascii"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_repl").alias("n_replacement_docs"),
            F.sum("has_ctrl").alias("n_control_docs"),
            F.sum("has_moji").alias("n_mojibake_docs"),
            F.expr(
                "CASE WHEN sum(n_chars) > 0"
                " THEN sum(n_nonascii) * 1000000 div sum(n_chars)"
                " ELSE 0 END"
            ).alias("nonascii_ppm"),
        )
    )


def rake_keywords(spark: SparkSession, sf_dir: str, k: int = 15) -> DataFrame:
    """EXT E427: RAKE keyword extraction (Rose et al. 2010) — corpus
    keyphrases without a model: candidate phrases are the maximal runs
    of non-stopword tokens (stopwords act as delimiters), each word is
    scored degree/frequency over the phrase co-occurrence graph, and a
    phrase scores the sum of its words — rewarding words that appear
    in LONG, focused phrases over ones that appear everywhere.

    Deterministic variant (no external stopword list): stopwords = the
    15 highest-document-frequency tokens (ties by token) — the corpus
    defines its own glue words. Phrases longer than 4 tokens are
    dropped (the standard RAKE cap). All scoring is integer: word
    score = (1000·degree) div freq (both engines truncate), phrase
    score = Σ member word scores.

    Scale shape: ONE posexplode pass (positions are array indexes, no
    window needed for them), one PARTITIONED cumulative-sum window per
    doc for phrase ids, two vocabulary-sized aggregates (word stats),
    and a broadcast of the 15-row stopword set. Top-k ranks a
    phrase-vocabulary-sized aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("toks")
    )
    tok = docs.select("doc_id", F.posexplode("toks").alias("pos", "w"))
    stop = (
        tok.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), "w")
        .limit(15)
        .select(F.col("w").alias("sw"))
    )
    from pyspark.sql import Window as W

    marked = tok.join(F.broadcast(stop), tok.w == stop.sw, "left").select(
        "doc_id", "pos", "w", F.col("sw").isNotNull().alias("is_stop")
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    phr = (
        marked.withColumn(
            "phrase_id", F.sum(F.col("is_stop").cast("int")).over(wd)
        )
        .filter(~F.col("is_stop"))
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ).alias("ws")
        )
        .filter(F.size("ws") <= 4)
        .select("doc_id", "phrase_id", "ws", F.size("ws").alias("plen"))
    )
    member = phr.select(
        "doc_id", "phrase_id", "plen",
        F.concat_ws(" ", "ws").alias("phrase"),
        F.explode("ws").alias("w"),
    )
    wscore = (
        member.groupBy("w")
        .agg(F.sum("plen").alias("deg"), F.count(F.lit(1)).alias("freq"))
        .select("w", F.expr("1000 * deg div freq").alias("wscore_milli"))
    )
    # score each OCCURRENCE (identical phrase text ⇒ identical score:
    # word scores are global), then collapse to phrase level
    scored = (
        member.join(wscore, "w")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(F.sum("wscore_milli").alias("occ_score"))
        .groupBy("phrase")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.max("occ_score").cast("long").alias("score_milli"),
        )
    )
    wr = W.orderBy(F.col("score_milli").desc(), F.col("phrase"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("phrase", "n_docs", "score_milli",
                F.col("rank").cast("long").alias("rank"))
    )


def tokenizer_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E444: tokenizer ROUND-TRIP fidelity — how much of the raw
    text the tokenize→detokenize cycle destroys, per source. Every
    pipeline that stores tokens instead of text (packing, n-gram
    stores, LM training) silently commits to this loss; the audit
    prices it BEFORE the decision: detok = join(tokens, ' ') compared
    against the RAW text — case folding and whitespace collapse are
    exactly the differences, so sources with heavy formatting (code,
    tables) show low exact-round-trip rates and high char loss while
    plain prose round-trips clean.

    One projection + one aggregate; all metrics integers (char loss is
    provably non-negative: folding preserves length, collapse/trim
    only removes).
    """
    docs = load_table(spark, sf_dir, "documents")
    detok = F.array_join(tokens_col("text"), " ")
    per = docs.select(
        "source",
        (detok == F.col("text")).cast("int").alias("exact"),
        (F.length("text") - F.length(detok)).alias("lost"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("exact").cast("long").alias("n_roundtrip_exact"),
        F.expr("sum(exact) * 1000000 div count(1)").alias("exact_ppm"),
        F.sum("lost").cast("long").alias("chars_lost"),
    )


def postings_compression_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E445: delta+varint SIZE ESTIMATE for the inverted index —
    the storage-engineering number behind E100's posting lists: doc-id
    lists compress to gap deltas + varints (the Lucene/PForDelta
    family's baseline), and the payoff depends entirely on the df
    distribution — dense lists have tiny gaps (1-byte varints), rare
    tokens pay full first-id cost. Per df band: tokens, postings, raw
    bytes (8/posting), delta+varint bytes, savings ppm — the estimate
    that decides whether an index ships compressed.

    All integer arithmetic (gap sequences from sorted distinct ids,
    varint width by threshold CASE), one explode + one per-token
    aggregate + one band aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    posting = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("t"))
        .distinct()
        .groupBy("t")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    vb = F.expr(
        "aggregate(transform(sequence(1, size(ids)),"
        " i -> CASE WHEN i = 1 THEN element_at(ids, 1) + 1"
        " ELSE element_at(ids, i) - element_at(ids, i - 1) END),"
        " cast(0 as bigint), (a, g) -> a + ("
        " CASE WHEN g < 128 THEN 1 WHEN g < 16384 THEN 2"
        " WHEN g < 2097152 THEN 3 WHEN g < 268435456 THEN 4"
        " ELSE 5 END))"
    )
    per_tok = posting.select(
        F.size("ids").alias("df"),
        vb.alias("varint_bytes"),
    ).select(
        F.expr(
            "CASE WHEN df = 1 THEN '1' WHEN df <= 10 THEN '2-10'"
            " WHEN df <= 100 THEN '11-100' ELSE '101+' END"
        ).alias("df_band"),
        "df",
        "varint_bytes",
    )
    return per_tok.groupBy("df_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("df").cast("long").alias("n_postings"),
        (F.sum("df") * 8).cast("long").alias("raw_bytes"),
        F.sum("varint_bytes").cast("long").alias("varint_bytes"),
        F.expr(
            "(sum(df) * 8 - sum(varint_bytes)) * 1000000 div (sum(df) * 8)"
        ).alias("savings_ppm"),
    )


def js_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E457: Jensen–Shannon divergence between every source pair's
    unigram distribution — the SYMMETRIC, bounded (≤ ln 2) companion of
    the E61 KL drift: the standard "how different are these two
    corpora" number behind mixture design (E303/E424) and source-merge
    decisions. JS(P,Q) = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)) over the
    UNION vocabulary; zero-count terms contribute p·ln2 exactly (no
    smoothing needed — JS is defined at the boundary).

    Determinism recipe (E61's): each term's log-ratio is ln of an
    EXACT integer rational — 2p/(p+q) = 2·ca·nb / (ca·nb + cb·na), all
    long products — rounded to integer µnats, then weighted by the
    integer count and summed exactly; only the final ÷n happens in
    float, one fixed expression per pair. One token scan; the pair
    fan-out is (source-pairs × union-vocab) rows — |sources|²-bounded
    metadata-scale, partial-aggregated before its one exchange."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(tokens_col("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    srcs = tot.select("source", "n")
    pairs = (
        srcs.select(F.col("source").alias("s1"), F.col("n").alias("na"))
        .join(
            srcs.select(F.col("source").alias("s2"), F.col("n").alias("nb")),
            F.col("s1") < F.col("s2"),
        )
    )
    # union vocabulary per pair: tokens present in either side — two
    # EQUI-joins unioned (an OR-join would plan as a nested loop)
    toks1 = cnt.select(F.col("source").alias("s1"), "token")
    toks2 = cnt.select(F.col("source").alias("s2"), "token")
    vocab = (
        F.broadcast(pairs).join(toks1, "s1")
        .select("s1", "s2", "na", "nb", "token")
        .unionByName(
            F.broadcast(pairs).join(toks2, "s2")
            .select("s1", "s2", "na", "nb", "token")
        )
        .distinct()
    )
    ca = cnt.select(
        F.col("source").alias("s1"), "token", F.col("c").alias("ca")
    )
    cb = cnt.select(
        F.col("source").alias("s2"), "token", F.col("c").alias("cb")
    )
    j = (
        vocab.join(ca, ["s1", "token"], "left")
        .join(cb, ["s2", "token"], "left")
        .select(
            "s1", "s2", "na", "nb",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    # per-term µnat units: ln of exact long rationals (2·ca·nb, ca·nb + cb·na)
    ra = F.lit(2.0) * F.col("ca") * F.col("nb") / (
        F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")
    )
    rb = F.lit(2.0) * F.col("cb") * F.col("na") / (
        F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")
    )
    ua = F.when(F.col("ca") > 0, F.round(F.log(ra) * F.lit(1e6), 0).cast("long")).otherwise(F.lit(0))
    ub = F.when(F.col("cb") > 0, F.round(F.log(rb) * F.lit(1e6), 0).cast("long")).otherwise(F.lit(0))
    agg = j.groupBy("s1", "s2", "na", "nb").agg(
        F.sum(F.col("ca") * ua).alias("sa"),
        F.sum(F.col("cb") * ub).alias("sb"),
        F.count(F.lit(1)).cast("long").alias("n_union_vocab"),
    )
    js = F.lit(0.5) * (
        F.col("sa") / F.col("na") + F.col("sb") / F.col("nb")
    )
    return agg.select(
        "s1", "s2", "n_union_vocab",
        F.col("na").cast("long").alias("n_tokens_a"),
        F.col("nb").cast("long").alias("n_tokens_b"),
        F.floor(js + F.lit(0.5)).cast("long").alias("js_micro_nats"),
    )


def textrank_keywords(
    spark: SparkSession, sf_dir: str, min_freq: int = 50, iters: int = 2,
    k: int = 25,
) -> DataFrame:
    """EXT E459: TextRank keyword extraction (Mihalcea & Tarau 2004) —
    PageRank over the word CO-OCCURRENCE graph: nodes are tokens with
    corpus frequency ≥ ``min_freq`` (the standard candidate filter,
    here also the graph-size bound: vocabulary-scale, not token-scale),
    undirected edges link tokens ADJACENT in some document. Unlike
    frequency/tf-idf rankers (E5/E28) this scores a word by the
    centrality of its neighborhood — the graph rung of the keyword
    ladder beside RAKE (E427) and chi² (E141).

    The E91 integer-ppb recurrence (:func:`~parquet_to_csv_spark.
    operators.dedup.ppb_pagerank`, unit edge weights, uniform teleport):
    contribution = pr div deg, update = 0.15 + 0.85·incoming in exact
    long arithmetic — any engine or partitioning yields identical
    longs, and the oracle unrolls the ``iters`` rounds as MATERIALIZED
    CTE levels. Plan: one token scan → adjacent-pair explode
    (map-local) → distinct edge relation (vocabulary²-bounded, sparse)
    → |V|-scale iteration relations. Top-k via TakeOrderedAndProject."""
    from parquet_to_csv_spark.operators.dedup import _cut_lineage, ppb_pagerank

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_col("text").alias("w"))
    freq = (
        toks.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    adj = toks.select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("u"), y.alias("v")),
            )
        ).alias("p")
    ).select(F.col("p.u").alias("u"), F.col("p.v").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    fu = freq.select(F.col("t").alias("u"))
    fv = freq.select(F.col("t").alias("v"))
    und = adj.join(F.broadcast(fu), "u").join(F.broadcast(fv), "v")
    edges = (
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
        .withColumn("w", F.lit(1))
        .transform(_cut_lineage)
    )
    nodes = edges.groupBy("src").agg(F.count(F.lit(1)).alias("wdeg")).select(
        F.col("src").alias("v"), "wdeg",
        F.lit(1_000_000_000).cast("long").alias("e"),
    )
    return (
        ppb_pagerank(edges, nodes, iters)
        .select(
            F.col("v").alias("token"), F.col("wdeg").alias("deg"),
            F.col("pr").alias("pr_ppb"),
        )
        .orderBy(F.desc("pr_ppb"), F.asc("token"))
        .limit(k)
    )


def rocchio_prf_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = ("vector", "hash", "scan"),
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
) -> DataFrame:
    """EXT E458: pseudo-relevance-feedback retrieval (Rocchio, term
    form): seed BM25 pass over the literal query terms → take the top
    ``fb_docs`` documents as pseudo-relevant → mine ``fb_terms``
    expansion terms from them (fb-set term count × corpus idf, length
    ≥ 4, query terms excluded) → rescore the corpus with the EXPANDED
    query, originals at weight 2 and expansions at weight 1 (the
    α/β mix in integer form). The classic recall lever of a sparse
    retrieval stack (Rocchio 1971; standard PRF as in Robertson's
    BM25 expansion) — one extra corpus scan and two tiny broadcast
    relations on top of E84.

    Determinism: every score is the E84 integer-µ-unit BM25
    contribution (idf·norm rounded to µ-units, exact long sums),
    expansion weights are long products (fb count × µ-idf), every
    top-N is (units DESC, key ASC) — both stages and the oracle
    replay bit-identically. Plan: token scan → array-local filter /
    broadcast-term joins only; no unbounded fan-out; final top-k is
    TakeOrderedAndProject."""
    from parquet_to_csv_spark.operators.dedup import _materialize_once

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    # Round 12: five consumers (corpus agg, both tf passes, fb_cnt,
    # cand_df) each re-tokenized the full corpus — tokenization was
    # the measured wall of this query. Materialize the tokenized
    # relation once; every stage reads the blocks.
    stats = _materialize_once(
        toks.select("doc_id", F.size("toks").alias("dl"), "toks")
    )
    corpus = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("long")).alias("sum_dl"),
    )
    term_lits = F.array(*[F.lit(t) for t in terms])
    idf_units = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
        )
        * F.lit(1e6)
    ).cast("long")
    norm = (
        F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 1.2
            * (0.25 + 0.75 * (F.col("dl") * F.col("n_docs")) / F.col("sum_dl"))
        )
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
    )

    # --- stage 1: seed BM25 over the literal terms (E84's exact core)
    tf1 = (
        stats.select(
            "doc_id", "dl",
            F.explode(
                F.filter(F.col("toks"), lambda t: F.array_contains(term_lits, t))
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df1 = tf1.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    seed = (
        tf1.join(F.broadcast(df1), "term")
        .join(F.broadcast(corpus))
        .select("doc_id", F.round(idf * norm * 1e6).cast("long").alias("u"))
        .groupBy("doc_id")
        .agg(F.sum("u").alias("su"))
        .orderBy(F.desc("su"), F.asc("doc_id"))
        .limit(fb_docs)
        .select("doc_id")
    )

    # --- stage 2: expansion terms mined from the pseudo-relevant set
    fb_cnt = (
        stats.join(F.broadcast(seed), "doc_id", "left_semi")
        .select(F.explode("toks").alias("t"))
        .filter(
            (F.length("t") >= 4) & ~F.array_contains(term_lits, F.col("t"))
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_fb"))
    )
    cand_df = (
        stats.select(F.explode(F.array_distinct("toks")).alias("t"))
        .join(F.broadcast(fb_cnt.select("t")), "t", "left_semi")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df_docs"))
    )
    expansion = (
        fb_cnt.join(F.broadcast(cand_df), "t")
        .join(F.broadcast(corpus))
        .select("t", (F.col("c_fb") * idf_units).alias("w"))
        .orderBy(F.desc("w"), F.asc("t"))
        .limit(fb_terms)
        .select(F.col("t").alias("term"), F.lit(1).cast("long").alias("qw"))
    )
    qterms = spark.createDataFrame(
        [(t, 2) for t in terms], "term string, qw long"
    ).unionByName(expansion)

    # --- stage 3: rescore with the expanded, weighted query
    tf2 = (
        stats.select("doc_id", "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "dl", "term", "qw")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df2 = tf2.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    scored = (
        tf2.join(F.broadcast(df2), "term")
        .join(F.broadcast(corpus))
        .select(
            "doc_id",
            (F.col("qw") * F.round(idf * norm * 1e6).cast("long")).alias("u"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("u").alias("score_units"),
        )
    )
    return (
        scored.orderBy(F.desc("score_units"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id", "n_matched",
            F.col("score_units").cast("long").alias("score_units"),
        )
    )


def good_turing_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E460: Good–Turing frequency estimation per source — the
    classic answer to "how much probability mass belongs to words this
    source has never shown us": p₀ = N₁/N (singleton share of tokens),
    and the smoothed count for once-seen words r₁* = 2·N₂/N₁. The LM
    data-curation use: a source with high unseen mass is under-sampled
    (pair with the Heaps-law curve E203 and coverage ladder E366).

    Two stacked counting passes (token → type frequency → frequency of
    frequencies), each map-side combined; ratios of exact longs emitted
    as floor-ppm. Nothing holds more than a source's frequency table
    row counts."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(tokens_col("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    fof = tf.groupBy("source").agg(
        F.sum("r").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.count(F.when(F.col("r") == 1, 1)).cast("long").alias("n1"),
        F.count(F.when(F.col("r") == 2, 1)).cast("long").alias("n2"),
    )
    p0 = F.col("n1") / F.col("n_tokens")
    r1s = F.lit(2.0) * F.col("n2") / F.col("n1")
    return fof.select(
        "source", "n_tokens", "vocab", "n1", "n2",
        F.floor(p0 * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("p0_ppm"),
        F.when(
            F.col("n1") > 0,
            F.floor(r1s * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
        ).alias("r1_star_ppm"),
    )


def token_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E467: Simpson lexical concentration per source — λ =
    Σr(r−1)/(N(N−1)), the probability two random tokens are the same
    type, and its inverse (effective number of equally-common types).
    The diversity rung beside Heaps growth (E203) and Zipf slope
    (E212): a source whose λ spikes is template/boilerplate-heavy even
    when its raw vocabulary looks fine. The numerator is an exact long
    sum over the frequency table; only the two final ratios are
    floats, each one fixed expression → floor-µ integers."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(tokens_col("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    g = tf.groupBy("source").agg(
        F.sum("r").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("r") * (F.col("r") - 1)).cast("long").alias("num"),
    )
    lam = F.col("num") / (F.col("n_tokens") * (F.col("n_tokens") - 1))
    return g.select(
        "source", "n_tokens", "vocab",
        F.floor(lam * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "simpson_ppm"
        ),
        F.floor(
            (F.col("n_tokens") * (F.col("n_tokens") - 1)).cast("double")
            / F.col("num") * F.lit(1000.0) + F.lit(0.5)
        ).cast("long").alias("inv_simpson_milli"),
    )


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E516: Flesch-style readability per source — the classic
    text-quality signal (reading-ease from sentence length and word
    complexity) beside the Gopher repetition stats (E90) and
    length/punct heuristics (E21). Syllables use the standard
    vowel-group proxy (contiguous [aeiouy]+ runs, the textbook
    approximation when no dictionary ships with the engine).

    All three inputs are exact long counts from ONE scan (words,
    sentence terminators + 1 per doc, vowel groups); the two Flesch
    ratios and the final score are fixed double expressions over the
    per-SOURCE totals — corpus-level reading ease, floor-milli.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(tokens_col("text"))
    sents = F.size(
        F.filter(
            F.split(F.col("text"), r"[.!?]"),
            lambda s: F.trim(s) != F.lit(""),
        )
    )
    sylls = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    )
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(words).cast("long").alias("n_words"),
        F.sum(F.greatest(sents, F.lit(1))).cast("long").alias("n_sents"),
        F.sum(sylls).cast("long").alias("n_sylls"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sents")
    spw = F.col("n_sylls").cast("double") / F.col("n_words")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    return per_source.select(
        "source",
        "n_docs",
        "n_words",
        "n_sents",
        "n_sylls",
        F.floor(wps * F.lit(1000.0) + F.lit(0.5)).cast("long").alias(
            "words_per_sent_milli"
        ),
        F.floor(spw * F.lit(1000.0) + F.lit(0.5)).cast("long").alias(
            "sylls_per_word_milli"
        ),
        F.floor(flesch * F.lit(1000.0) + F.lit(0.5)).cast("long").alias(
            "flesch_milli"
        ),
    )
