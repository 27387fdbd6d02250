"""Benchmark harness (driver contract): run every registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect). A warmup
query runs first so JVM/codegen startup isn't attributed to the first
measured query.

Artifact durability (round-2 postmortem): with 330+ per-query timings
the single JSON line grew past what the driver's capture preserved —
``BENCH_r02.json`` recorded only the tail of the line (``parsed:
null``).  Now the full per-query map is written to ``BENCH_OUT.json``
next to this file, and stdout carries the same JSON *without* the bulky
``queries`` map unless it fits comfortably in one short line; the
driver-contract fields (metric/value/unit/sf) are always present and
the printed line is kept small enough to survive tail-capture.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_to_csv_spark.plans.registry import QUERIES  # noqa: E402
from parquet_to_csv_spark.session import get_spark, read_codegen_failures  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # fresh artifact root per bench run: shared build-once artifacts
    # (dedup edge tables, IVF indexes) are put-if-absent across
    # processes since round 6 — the bench must keep PAYING the first
    # build so its numbers stay comparable across rounds instead of
    # silently serving a previous process's build
    import tempfile

    os.environ.setdefault(
        "SPARK_GRAFT_ARTIFACT_DIR", tempfile.mkdtemp(prefix="bench_artifacts_")
    )
    spark = get_spark("bench")

    # warmup: touch the biggest table so JVM/codegen startup is excluded
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    timings: dict[str, float] = {}
    # Write-once infrastructure builds, each timed as an EXPLICIT infra
    # entry ahead of the queries, so whichever consumer runs first does
    # not absorb the build and the consumers time the warm read.
    from parquet_to_csv_spark.operators import corpus as _corpus
    from parquet_to_csv_spark.operators import dedup as _dedup
    from parquet_to_csv_spark.sources import layout as _layout

    infra_builds = (
        # the shared rare-first token base of the prefix-filter family
        # (round-5 verdict item 6: 8.4 s vs 4.7 s for
        # ngram_jaccard_pairs was first-payer attribution)
        ("tokbase_build", lambda: _dedup._token_base(spark, sf_dir).count()),
        # Round 12 (round-11 verdict item 1): the dedup EDGE,
        # CLUSTER-LABEL and SPLIT-UNIT artifacts, consumed across ~20
        # registry queries. The key census (threshold × variant claimed
        # by the registry at defaults) is exactly the set below.
        # One blocked edge artifact at the lowest registry threshold
        # serves every t >= 0.5 consumer (filtered reads).
        ("dedup_edges_build",
         lambda: _dedup.dedup_edges(spark, sf_dir, 0.5).count()),
        # the corpus-wide UNBLOCKED prefix-filter join (E399/E415 truth)
        ("dedup_ubedges_build",
         lambda: _dedup._unblocked_edges(spark, sf_dir, 0.8).count()),
        # connected-component labels at the three sweep thresholds
        ("dedup_labels_build",
         lambda: [_dedup.dup_clusters(spark, sf_dir, t).count()
                  for t in (0.5, 0.65, 0.8)]),
        # leakage split units: CC over (near-dup ∪ exact-star) edges,
        # blocked and unblocked variants
        ("dedup_splitunits_build",
         lambda: [_dedup._split_unit_labels(spark, sf_dir, 0.8, ub).count()
                  for ub in (False, True)]),
        # Lakehouse gate artifacts (round-7 verdict item 2): the
        # one-time construction (commits, MERGE, partitioned writes,
        # transactions) priced into the gate's single pass made a
        # 0.2-0.8 s metadata-pruned warm read look like a 29-39x
        # "regression".
        ("partition_evolution_build",
         lambda: _layout._partition_evolution_root(spark, sf_dir)),
        ("hidden_partition_build",
         lambda: _layout._hidden_partition_root(spark, sf_dir)),
        ("merge_delete_build",
         lambda: _layout._merge_delete_root(spark, sf_dir)),
        ("tx_lifecycle_build",
         lambda: _layout._tx_lifecycle_root(spark, sf_dir)),
        ("replace_where_build",
         lambda: _layout._replace_where_root(spark, sf_dir)),
        # round-8 verdict item 4: the doc-grain unigram-LM score base
        # (consumed by unigram_lm_score, the lex/LM overlap report and
        # perplexity_pruning_report — the last referenced it twice)
        ("uniglm_build", lambda: _corpus._unigram_lm_base(spark, sf_dir)),
    )
    for build_name, builder in infra_builds:
        t0 = time.perf_counter()
        try:
            builder()
            timings[build_name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(
                f"bench: {build_name} failed: {type(e).__name__}: {e}",
                file=sys.stderr,
            )
            timings[build_name] = -1.0
    spark.catalog.clearCache()
    codegen_fallbacks: dict[str, int] = {}
    cg_off, _ = read_codegen_failures(0)  # skip anything warmup logged
    for name, fn in QUERIES.items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).collect()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            timings[name] = -1.0
        # codegen-fallback sniffer (round-5 verdict item 4): a Janino
        # CompileException means this query silently ran interpreted —
        # correct answer, wrong execution tier. Attribute it here so a
        # fallback can never ship green again.
        cg_off, n_cg = read_codegen_failures(cg_off)
        if n_cg:
            codegen_fallbacks[name] = n_cg
            print(
                f"bench: {name}: {n_cg} whole-stage-codegen compile "
                "failure(s) — ran interpreted", file=sys.stderr,
            )
        # drop persisted blocks a query left behind (minhash shingle
        # relation, CC checkpoints) so later queries aren't timed under
        # another query's memory pressure
        spark.catalog.clearCache()

    # Flagship REF path e2e (round-5 verdict item 7): drive the actual
    # pipeline.convert (CSV + SQLite sinks) at bench scale so the
    # reference's one entry point has a tracked wall number, not just
    # its per-stage query plans. Input staging (building the span tree
    # fixture) happens OUTSIDE the timed section — convert's own scan,
    # transform, fan-out persist, and both sink writes are inside.
    try:
        import shutil
        import tempfile

        from parquet_to_csv_spark.functions.trace import trace_spans
        from parquet_to_csv_spark.pipeline import ConvertConfig, convert
        from parquet_to_csv_spark.sources.tables import load_table

        stage_root = tempfile.mkdtemp(prefix="bench_spans_")
        out_root = tempfile.mkdtemp(prefix="bench_convert_")
        spans = trace_spans(load_table(spark, sf_dir, "events")).drop(
            "duration_ms"
        )
        spans.write.parquet(os.path.join(stage_root, "a"))
        spans.drop("props", "value").write.parquet(
            os.path.join(stage_root, "sub/b")
        )
        t0 = time.perf_counter()
        convert(
            spark,
            stage_root,
            os.path.join(out_root, "out"),
            ConvertConfig(write_csv=True, write_sqlite=True),
        )
        timings["ref_convert_e2e"] = round(time.perf_counter() - t0, 3)
        shutil.rmtree(stage_root, ignore_errors=True)
        shutil.rmtree(out_root, ignore_errors=True)
    except Exception as e:  # noqa: BLE001
        print(f"bench: ref_convert_e2e failed: {type(e).__name__}: {e}", file=sys.stderr)
        timings["ref_convert_e2e"] = -1.0
    spark.catalog.clearCache()

    # Streaming throughput tier (round-7, verdict item 6): measured
    # drain RATES (rows/sec) for the stateless / windowed-agg / dedup
    # paths, state rows read back via the statestore source. Kept
    # OUTSIDE the query total so round-over-round totals stay
    # comparable; BASELINE.md tracks the rates separately.
    streaming_tier: dict = {}
    try:
        from parquet_to_csv_spark.streaming.stream import streaming_throughput

        streaming_tier = streaming_throughput(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        print(
            f"bench: streaming_tier failed: {type(e).__name__}: {e}",
            file=sys.stderr,
        )
        streaming_tier = {"error": f"{type(e).__name__}: {e}"}
    spark.catalog.clearCache()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Tier split (round-5 verdict item 7): the corpus-wide exact audits
    # are deliberately expensive — they enumerate/verify EVERY true
    # pair — and their cost is the product, not overhead. Reporting
    # them inside one flat total let a hot-path regression hide under
    # audit noise (and vice versa); BASELINE.md tracks the two
    # subtotals separately.
    AUDIT_TIER = {
        "blocking_recall_report",       # E399: all unblocked true pairs
        "leakage_release_certificate",  # E396: full-corpus release cert
        "leakage_safe_split_v2",        # E397: blocked-CC split audit
        "leakage_safe_split_v3",        # E415: unblocked-CC split audit
    }
    audit_sec = round(
        sum(t for k, t in timings.items() if k in AUDIT_TIER and t >= 0), 3
    )
    INFRA_TIER = {name for name, _ in infra_builds}
    infra_sec = round(
        sum(t for k, t in timings.items() if k in INFRA_TIER and t >= 0), 3
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "all")
    payload = {
        "metric": f"total_wall_sec_{len(timings)}_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "codegen_fallback_total": sum(codegen_fallbacks.values()),
        "audit_tier_sec": audit_sec,
        "infra_tier_sec": infra_sec,
        "hot_tier_sec": round(total - audit_sec - infra_sec, 3),
        "audit_tier": sorted(AUDIT_TIER & set(timings)),
        # entries that raised: recorded as -1.0 and left out of every
        # total above, so a failure shows here instead of as a speedup
        "failed": sorted(k for k, t in timings.items() if t < 0),
        "streaming_tier": streaming_tier,
    }
    if codegen_fallbacks:
        payload["codegen_fallbacks"] = codegen_fallbacks
    # Round-11 postmortem (verdict item 4): the driver's 8-core scaling
    # pass used to OVERWRITE the 32-core full map because both wrote
    # BENCH_OUT.json. The full map is now ALSO written to a
    # cpu-count-keyed file so no later pass at a different core count
    # can destroy it; BENCH_OUT.json stays as the latest-run pointer
    # (additions-only — tools that read it keep working).
    here = os.path.dirname(os.path.abspath(__file__))
    for out_path in (
        os.path.join(here, "BENCH_OUT.json"),
        os.path.join(here, f"BENCH_OUT_c{cpus}.json"),
    ):
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")

    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 3500:
        # keep stdout tail-capture-safe: print the headline subset only,
        # full map lives in BENCH_OUT.json
        headline = {
            k: timings[k]
            for k in (
                "ref_duration_pipeline", "ref_long_split", "q1_pricing_summary",
                "q3_shipping_priority", "q5_region_revenue", "q18_large_orders",
                "exact_dedup", "minhash_lsh_pairs", "simhash_pairs",
                "ngram_jaccard_pairs", "dup_clusters", "cosine_topk",
                "ivf_topk", "embedding_neardup_pairs", "text_stats",
                "quality_score", "token_counts", "tumbling_window_stats",
                "session_windows", "asof_purchase_click",
                "streaming_tumbling_drain", "corpus_curation_pipeline",
            )
            if k in timings
        }
        line = json.dumps(
            {**payload, "queries": headline, "full_results": "BENCH_OUT.json"},
            separators=(",", ":"),
        )
    print(line)


if __name__ == "__main__":
    main()
