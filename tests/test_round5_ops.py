"""Round-5 operator tests: blocking-recall telemetry (E399) and the
unblocked prefix-filter edge path."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from parquet_to_csv_spark.operators import dedup


def _pairset(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_unblocked_pairs_superset_of_blocked(spark, sf_dir):
    blocked = _pairset(dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8))
    unblocked = _pairset(
        dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8, blocked=False)
    )
    # blocking only ever restricts the candidate space
    assert blocked <= unblocked
    # every extra pair must genuinely cross a lang×source block
    extra = unblocked - blocked
    if extra:
        docs = {
            r["doc_id"]: (r["lang"], r["source"])
            for r in dedup.load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source")
            .collect()
        }
        assert all(docs[a] != docs[b] for a, b in extra)


def test_blocking_recall_report_consistency(spark, sf_dir):
    row = dedup.blocking_recall_report(spark, sf_dir).collect()[0]
    assert row["threshold_bp"] == 8000
    assert (
        row["n_pairs_blocked"] + row["n_pairs_cross_block"]
        == row["n_pairs_unblocked"]
    )
    assert 0 <= row["recall_ppm"] <= 1000000
    blocked = _pairset(dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8))
    assert row["n_pairs_blocked"] == len(blocked)


def test_strategy_report_carries_measured_recall(spark, sf_dir):
    rows = {r["tier"]: r for r in dedup.dedup_strategy_report(spark, sf_dir).collect()}
    assert rows["exact"]["blocking_recall_ppm"] == 1000000
    assert rows["normalized"]["blocking_recall_ppm"] == 1000000
    audit = dedup.blocking_recall_audit(spark, sf_dir).collect()[0]
    assert (
        rows["near_dup_j08"]["blocking_recall_ppm"]
        == 1000000 - audit["missed_ppm"]
    )


def test_unblocked_edges_artifact_kept_apart_from_blocked(spark, sf_dir):
    """_unblocked_edges serves the unblocked build, keyed separately
    from the blocked dedup_edges artifact."""
    blocked_edges = _pairset(dedup.dedup_edges(spark, sf_dir, 0.8))
    unblocked_edges = _pairset(dedup._unblocked_edges(spark, sf_dir, 0.8))
    assert blocked_edges <= unblocked_edges
    assert unblocked_edges == _pairset(
        dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8, blocked=False)
    )
    # neither artifact serves the other (no key bleed)
    assert blocked_edges < unblocked_edges
    assert _pairset(dedup.dedup_edges(spark, sf_dir, 0.8)) == blocked_edges


def test_unblocked_edges_key_rounds_threshold(spark, sf_dir, art_root):
    """0.57 * 10000 is 5699.99... in binary floating point: a 0.57 call
    after a 0.5699 call must commit its own ``ubedges_t5700_*`` artifact,
    not be served the wider 0.5699 edge set."""
    wide = _pairset(dedup._unblocked_edges(spark, sf_dir, 0.5699))
    got = _pairset(dedup._unblocked_edges(spark, sf_dir, 0.57))
    keys = sorted(k for k in os.listdir(art_root) if k.startswith("ubedges_"))
    assert [k.split("_")[1] for k in keys] == ["t5699", "t5700"]
    assert got == _pairset(
        dedup.ngram_jaccard_pairs(spark, sf_dir, 0.57, blocked=False)
    )
    assert got <= wide


def test_backpressure_drain_splits_batches(spark, sf_dir):
    """E401: the maxFilesPerTrigger=2 rate limit must actually split
    the 6-file drain into >1 micro-batch (exactly 3), and the merged
    partials must equal the batch aggregation."""
    from parquet_to_csv_spark.sources.tables import load_table
    from parquet_to_csv_spark.streaming.stream import backpressure_drain_query

    rows = backpressure_drain_query(spark, sf_dir).collect()
    assert rows and all(r["n_batches"] == 3 for r in rows)
    want = {
        r["event_type"]: (r["n"], r["cents"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(floor(value * 100 + 0.5) as long)")).alias(
                "cents"
            ),
        )
        .collect()
    }
    got = {r["event_type"]: (r["n_events"], r["value_cents"]) for r in rows}
    assert got == want


def test_clustering_depth_layouts_differ(spark, sf_dir):
    from parquet_to_csv_spark.sources.layout import clustering_depth_report

    rows = {r["layout"]: r for r in clustering_depth_report(spark, sf_dir).collect()}
    dr, hi = rows["date_range"], rows["hash_ingest"]
    # hash layout: most files span most of the domain (at tiny sf some
    # files are sparse, so not exactly n_files deep — but close)
    assert hi["avg_overlap_milli"] > 10000
    # date-range layout is near-disjoint: depth ~1, real skipping
    assert dr["avg_overlap_milli"] < 2000 and dr["max_overlap"] <= 2
    assert dr["skip_ppm"] > 800000 > hi["skip_ppm"]


def test_ivm_equals_recompute(spark, sf_dir):
    from parquet_to_csv_spark.operators.corpus import md5_bucket
    from parquet_to_csv_spark.operators.relational import (
        incremental_view_maintenance,
        load_table,
    )

    got = {
        r["event_type"]: (r["n_events"], r["value_cents"])
        for r in incremental_view_maintenance(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as long)").alias("cents"),
        md5_bucket(F.col("event_id"), 100).alias("b"),
    )
    final = ev.filter(
        (F.col("b") >= 80) | ((F.col("b") < 80) & (F.col("b") % 7 != 0))
    ).select(
        "event_type",
        F.when(
            (F.col("b") < 80) & (F.col("b") % 7 == 1), F.col("cents") + 1000
        ).otherwise(F.col("cents")).alias("cents"),
    )
    want = {
        r["event_type"]: (r["n"], r["c"])
        for r in final.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
        .collect()
    }
    assert got == want


def test_bitemporal_restatement_preserves_history(spark, sf_dir):
    from parquet_to_csv_spark.operators.rangejoin import bitemporal_asof_report

    rows = bitemporal_asof_report(spark, sf_dir).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault((r["probe_v"], r["probe_t"]), {})[
            r["c_mktsegment"]
        ] = (r["n_customers"], r["bal_cents"])
    # history (valid 50) identical before and after the tx-50 restatement
    assert by_probe[(50, 25)] == by_probe[(50, 75)]
    # the restated period differs: +200 cents per customer at T=75
    for seg, (n, bal) in by_probe[(150, 25)].items():
        n2, bal2 = by_probe[(150, 75)][seg]
        assert n2 == n and bal2 == bal + 200 * n


def test_join_size_prediction_fk_near_exact(spark, sf_dir):
    from parquet_to_csv_spark.operators.sketch import join_size_prediction_report

    rows = {r["join_name"]: r for r in join_size_prediction_report(spark, sf_dir).collect()}
    # FK joins with near-uniform fan-out: HLL-based uniformity estimate
    # must land within a few percent of truth
    for jn in ("customer_orders", "orders_lineitem", "part_lineitem"):
        r = rows[jn]
        assert r["actual_rows"] > 0
        assert abs(r["err_ppm"]) < 100000, (jn, r["err_ppm"])


def test_latedrop_drain_semantics_pinned(spark, sf_dir):
    """E410: pin the engine's measured append-mode semantics — 4
    micro-batches in mtime order, ZERO rows dropped by watermark for
    the never-finalized late windows, no duplicate append emissions,
    and the tail (end > final watermark) withheld."""
    import tempfile

    from parquet_to_csv_spark.streaming.stream import (
        _stage_latedrop_dirs,
        latedrop_drain_query,
        with_event_time,
    )

    rows = latedrop_drain_query(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        k = (r["ws_ms"], r["event_type"])
        assert k not in seen, f"duplicate append emission {k}"
        seen.add(k)

    # re-run the raw query with a progress probe for the drop metric
    stage = _stage_latedrop_dirs(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    agg = (
        with_event_time(stream)
        .withWatermark("event_time", "30 minutes")
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .count()
    )
    ck = tempfile.mkdtemp()
    q = (
        agg.writeStream.foreachBatch(lambda df, bid: df.count())
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == 3  # one per staged file, mtime order
    for p in progress:
        for so in p["stateOperators"]:
            assert so["numRowsDroppedByWatermark"] == 0
