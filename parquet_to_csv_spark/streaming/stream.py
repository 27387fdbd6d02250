"""Structured Streaming wiring for the event pipeline (SURVEY.md E9/E10).

The reference is batch-only; these are the north-star streaming
equivalents. The aggregation expressions are shared with
``operators.timeops`` — one definition serves the batch backfill and
the live path, which is the whole point of Spark-first design here.

Pattern: ``readStream`` (explicit schema — streaming sources don't
infer) → event-time window aggregation with a watermark bounding state
→ sink. Tests drive it with ``trigger(availableNow=True)`` against the
fixture parquet, i.e. process-everything-then-stop, so the identical
code would run ``trigger(processingTime=...)`` in production.

State sizing at scale: watermark delay × key cardinality bounds the
state store; session windows additionally merge state per user — both
are the knobs that keep a 100 TB/day stream bounded.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_to_csv_spark.functions.stable import stable_sum_2dp


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """Stream the events table layout (ts = ns-epoch long) from a
    parquet directory. Each micro-batch takes at most 8 new files
    (``maxFilesPerTrigger``), so a directory of up to 8 files drains in
    one batch and a larger one in ceil(files / 8)."""
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(path)
    )


def with_event_time(stream: DataFrame) -> DataFrame:
    return stream.withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))


def streaming_tumbling_counts(
    stream: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type — the
    streaming twin of ``timeops.tumbling_window_stats``."""
    return (
        with_event_time(stream)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # exact-cents sum (functions.stable): same stable contract
            # as the batch twin, valid under streaming partial aggs too.
            stable_sum_2dp(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("ws_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessions(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Watermarked session windows per user — streaming twin of
    ``timeops.session_windows`` (state merges as events arrive)."""
    return (
        with_event_time(stream)
        .withWatermark("event_time", "1 hour")
        .groupBy(F.session_window(F.col("event_time"), gap).alias("s"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("s.start")).alias("session_start_us"),
            "n_events",
        )
    )


@contextlib.contextmanager
def _state_width(spark: SparkSession, n: int):
    """Start the block's streaming queries with ``n`` state partitions:
    set ``spark.sql.shuffle.partitions`` to ``n`` and restore it on
    exit. A query pins its state-store partition count from that conf
    when it writes its first checkpoint, so the scope must cover
    ``start()``; every drain here is synchronous (``availableNow`` plus
    ``awaitTermination``), so it covers the whole run. No lock is held,
    unlike ``timeops.scoped_session_conf``, because the block runs a
    whole query."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    spark: SparkSession,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a (bounded) stream into an in-memory table and return the
    batch result — availableNow processes all pending input then stops.

    The query starts with ONE state partition. Each stateful operator
    loads, commits and checksums one state store per partition per
    micro-batch (four files per store per batch in Spark 4.1, however
    few rows it holds); for the kilobytes of state a drain here holds,
    that fixed cost outweighs the state work (8 partitions about
    doubled a drain's CPU on 4 cores). The memory sink is Spark's low-volume sink: it
    collects its whole output into the driver, and every drain that
    reaches it is a bounded fixture of a few MB, so one partition
    holds all of its state. The scan ahead of the state shuffle stays
    parallel, and results do not depend on the partition count (the
    same oracle gates every drain). A checkpoint keeps the width it
    started with: a query restarted on an existing checkpoint (a
    ``checkpointLocation`` reused across runs) keeps that checkpoint's
    partition count whatever the conf says."""
    with _state_width(spark, 1):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(table_name)


def _staged_once(spark: SparkSession, sf_dir: str, table: str, prefix: str, write_fn) -> str:
    """Build-once staging (round-4, verdict #8): the drain harness
    previously re-wrote the staged source per query — ~21 s of the
    sf0.1 bench spent writing the SAME events parquet again and again.
    Each staging dir is a ``layout.claim_artifact`` entry keyed by
    (prefix, content salt of the source table): the first drain writes
    ``write_fn(stage)`` into a fresh, not-yet-existing stage directory,
    later drains in any process list-and-read, and a reaped directory
    is rebuilt. Each streaming query still gets its own
    checkpoint/sink, so sharing the input dir does not couple their
    offsets; the content salt invalidates the staging when the fixture
    is rewritten."""
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    return claim_artifact(spark, prefix + source_salt(sf_dir, table), write_fn)


def _stage_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Copy ``events`` into a temp dir shaped as a file-stream source.
    2 staged files < maxFilesPerTrigger ⇒ a drain is one micro-batch."""
    from parquet_to_csv_spark.sources.tables import load_table

    return _staged_once(
        spark, sf_dir, "events", "evstream_",
        lambda p: load_table(spark, sf_dir, "events").coalesce(2)
        .write.mode("overwrite").parquet(p),
    )


def tumbling_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 through the correctness gate: stage ``events`` as a
    file-stream directory, run the *streaming* tumbling aggregation,
    drain it with availableNow, and return the drained result — which
    must equal the batch SQL oracle. This is the batch/stream parity
    contract executed end-to-end (same window expressions, streaming
    execution path)."""
    import uuid as _uuid

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_stream_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        streaming_tumbling_counts(read_event_stream(spark, stage)), name, spark
    )


def stateful_totals_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 through the correctness gate: drain the custom
    ``applyInPandasWithState`` running-totals operator
    (``streaming.stateful``) over the staged event stream with
    availableNow. The staging keeps the drain to ONE micro-batch, so
    update-mode emits exactly one (final) row per user — equal to the
    batch per-user aggregation the DuckDB oracle computes."""
    import uuid as _uuid

    from parquet_to_csv_spark.streaming.stateful import stateful_user_totals

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_stateful_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        stateful_user_totals(read_event_stream(spark, stage)),
        name,
        spark,
        output_mode="update",
    )


def streaming_click_attribution(
    purchases: DataFrame, clicks: DataFrame, lookback: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks within the trailing ``lookback`` window.

    Both sides carry watermarks and the join condition bounds the time
    skew, so Spark can expire join state — the knob that keeps a
    perpetual two-stream join's state finite. Inner-join matches emit
    as soon as both sides arrive (append mode)."""
    p = (
        with_event_time(purchases)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("event_time", lookback)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
        )
    )
    c = (
        with_event_time(clicks)
        .filter(F.col("event_type") == "click")
        .withWatermark("event_time", lookback)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_time") <= F.col("p_time")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_time").alias("purchase_us"),
        F.unix_micros("c_time").alias("click_us"),
    )


def join_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join through the gate: both sides stream from the
    same staged events dir (two independent sources, the production
    shape); drained availableNow the inner matches equal the batch
    time-range join the DuckDB oracle computes."""
    import uuid as _uuid

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_join_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        streaming_click_attribution(
            read_event_stream(spark, stage), read_event_stream(spark, stage)
        ),
        name,
        spark,
        output_mode="append",
    )


def streaming_dedup(stream: DataFrame, within: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: first occurrence of each ``event_id``
    wins; ``dropDuplicatesWithinWatermark`` bounds the dedup state to
    the watermark horizon (the unbounded-state killer of a naive
    streaming ``dropDuplicates`` at 100 TB/day)."""
    return (
        with_event_time(stream)
        .withWatermark("event_time", within)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.unix_micros("event_time").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
    )


def dedup_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup through the gate: the events table is staged
    TWICE (every row a duplicate), streamed through
    ``streaming_dedup``, and drained — the surviving set must equal
    the plain batch DISTINCT of the single copy."""
    import uuid as _uuid

    from parquet_to_csv_spark.sources.tables import load_table

    def _write_twice(p: str) -> None:
        ev = load_table(spark, sf_dir, "events").coalesce(2)
        ev.write.mode("append").parquet(p)
        ev.write.mode("append").parquet(p)

    stage = _staged_once(spark, sf_dir, "events", "evdedup_", _write_twice)
    name = "t_dedup_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        streaming_dedup(read_event_stream(spark, stage)),
        name,
        spark,
        output_mode="append",
    )


def sessions_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 streaming through the gate: the watermarked session_window
    aggregation drained availableNow — complete mode emits the final
    merged sessions, equal to the batch gaps-and-islands oracle."""
    import uuid as _uuid

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_sessions_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        streaming_sessions(read_event_stream(spark, stage)), name, spark
    )


def stream_to_parquet_idempotent(
    stream_df: DataFrame, out_dir: str, spark: SparkSession
) -> None:
    """Drain a bounded stream to parquet via ``foreachBatch`` with
    EXACTLY-ONCE output semantics: each micro-batch overwrites its own
    ``batch_id=N`` directory partition, so a replayed batch (restart
    after a sink failure, before the commit log advanced) lands on top
    of its previous partial write instead of duplicating rows — the
    standard idempotent-sink recipe when the target (plain parquet) has
    no transactional writer.

    `partitionOverwriteMode=dynamic` scopes the overwrite to exactly
    the partitions present in the batch; other batches' output is
    untouched, so concurrent history is safe.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .trigger(availableNow=True)
        .option("checkpointLocation", out_dir + "_chk")
        .start()
    )
    q.awaitTermination()


def streaming_static_enrich(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each event enriched with its customer row.

    The static side is a plain batch DataFrame — Spark re-evaluates it
    per micro-batch (a dim refresh is picked up on the next trigger)
    and plans it as a broadcast hash join, so the stream side never
    shuffles and the join keeps NO state (unlike stream-stream): the
    only scaling knob is the broadcast size of the dim.
    """
    d = F.broadcast(
        dim.select(
            F.col("c_custkey"), F.col("c_name"), F.col("c_mktsegment")
        )
    )
    return (
        with_event_time(stream)
        .join(d, F.col("user_id") == F.col("c_custkey"))
        .select(
            "event_id",
            F.unix_micros("event_time").alias("ts_us"),
            "user_id",
            "c_name",
            "c_mktsegment",
            "value",
        )
    )


def static_enrich_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join through the gate: events stream from the
    staged dir, customer joins in as the static broadcast side; the
    drained append-mode output must equal the batch equi-join the
    DuckDB oracle computes (stateless join ⇒ exact batch parity)."""
    import uuid as _uuid

    from parquet_to_csv_spark.sources.tables import load_table

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_static_enrich_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        streaming_static_enrich(
            read_event_stream(spark, stage),
            load_table(spark, sf_dir, "customer"),
        ),
        name,
        spark,
        output_mode="append",
    )


def streaming_unattributed_purchases(
    purchases: DataFrame, clicks: DataFrame, lookback: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, attributed to the
    same user's trailing clicks when they exist, emitted with NULL
    click columns otherwise — the "organic conversion" feed.

    Outer stream-stream semantics are a genuinely different streaming
    capability from the inner join: a purchase with no matching click
    can only be emitted once the watermark has passed its join window
    (the engine must PROVE no match can still arrive), so unmatched
    rows trail the matched ones by the watermark delay. Under an
    availableNow drain the final watermark sweep flushes them, which
    is what makes the result equal the batch left join exactly.
    """
    p = (
        with_event_time(purchases)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("event_time", lookback)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
        )
    )
    c = (
        with_event_time(clicks)
        .filter(F.col("event_type") == "click")
        .withWatermark("event_time", lookback)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_time") <= F.col("p_time")),
        "left_outer",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_time").alias("purchase_us"),
        "click_id",
        F.unix_micros("c_time").alias("click_us"),
    )


def left_join_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer stream-stream join through the gate: drained availableNow,
    the matched rows plus watermark-flushed unmatched rows must equal
    the batch LEFT JOIN with the same time-band condition.

    Watermark-closure subtlety: an unmatched purchase is only emitted
    once BOTH sides' watermarks pass its join window, and the
    watermark only advances BETWEEN micro-batches — so a bounded drain
    needs (a) something past the last real event to pull the watermark
    beyond every real join window, and (b) a final batch to run under
    that advanced watermark. (a) is one sentinel purchase+click pair
    (``user_id = −1``) staged ``2×lookback`` past the max event time;
    (b) is the no-data cleanup micro-batch availableNow runs after the
    data batch (SPARK-24156 semantics — observed in this engine).

    Pushdown trap (cost a debugging session): the sentinel filter must
    run on the DRAINED BATCH RESULT, not inside the streaming query —
    a left-side predicate like ``user_id >= 0`` on the join output is
    pushed below the left EventTimeWatermark operator, silently
    deleting the sentinel before it can advance the watermark (global
    watermark = min over sides stays put, nothing flushes). A live
    deployment has no end-of-stream and needs no sentinel; staging is
    already an action-based harness step, so the one max() scan here
    is fine.
    """
    import uuid as _uuid

    from parquet_to_csv_spark.sources.tables import load_table

    def _write_with_sentinel(p: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        mx_ns = ev.agg(F.max("ts")).first()[0]
        schema = (
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        s_ns = mx_ns + 2 * 3_600 * 10**9
        sent = spark.createDataFrame(
            [
                (-1, s_ns, -1, "purchase", 0.0, "{}"),
                (-2, s_ns, -1, "click", 0.0, "{}"),
            ],
            schema,
        )
        ev.unionByName(sent).coalesce(2).write.mode("overwrite").parquet(p)

    stage = _staged_once(spark, sf_dir, "events", "evsent_", _write_with_sentinel)
    name = "t_ljoin_drain_" + _uuid.uuid4().hex[:8]
    joined = streaming_unattributed_purchases(
        read_event_stream(spark, stage), read_event_stream(spark, stage)
    )
    drained = run_to_memory(joined, name, spark, output_mode="append")
    return drained.filter(F.col("user_id") >= 0)


def streaming_sliding_counts(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked 1h/30min sliding-window stats — the streaming twin of
    ``timeops.sliding_window_stats`` (each event lands in two windows;
    the state store holds both open windows per slide until the
    watermark closes them)."""
    from parquet_to_csv_spark.functions.stable import stable_avg_2dp

    return (
        with_event_time(stream)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            stable_avg_2dp(F.sum("value"), F.count(F.lit(1))).alias("avg_value"),
        )
        .select(F.unix_millis(F.col("w.start")).alias("ws_ms"), "n_events", "avg_value")
    )


def sliding_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 sliding-window batch/stream parity through the gate: the
    STREAMING sliding aggregation drained availableNow must equal the
    batch SQL oracle (same expressions as
    ``timeops.sliding_window_stats``) — completing the streaming-twin
    contract for all three window shapes (tumbling, sliding, session)."""
    import uuid as _uuid

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_slide_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        streaming_sliding_counts(read_event_stream(spark, stage)), name, spark
    )


def upsert_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert through the gate: drain the latest-per-key
    stateful operator (streaming.stateful.stateful_latest_upsert) over
    the staged single-micro-batch event stream — update mode then
    emits exactly one final row per user, which must equal the batch
    "last row per key" the DuckDB oracle computes with a window."""
    import uuid as _uuid

    from parquet_to_csv_spark.streaming.stateful import stateful_latest_upsert

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_upsert_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        stateful_latest_upsert(read_event_stream(spark, stage)),
        name,
        spark,
        output_mode="update",
    )


def _stage_docs_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage ``documents`` as a file-stream source directory (the E304
    ingest shape: docs arrive as files, hygiene runs before anything
    else sees them)."""
    from parquet_to_csv_spark.sources.tables import load_table

    return _staged_once(
        spark, sf_dir, "documents", "docstream_",
        lambda p: load_table(spark, sf_dir, "documents").coalesce(2)
        .write.mode("overwrite").parquet(p),
    )


def secret_scrub_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E308: streaming corpus hygiene — the E304 secret scan run on
    a DOCUMENT STREAM and drained to the same per-source report, so the
    gate proves batch/stream parity for the safety filter itself (the
    one filter that must run at INGEST time, before quarantine-worthy
    payloads reach the lake).

    Scale shape: the detection/redaction projection is STATELESS
    (per-micro-batch map, no state store, no watermark — hygiene never
    buffers); only the tiny per-source rollup is a streaming
    aggregation (complete mode over source-cardinality rows). Reuses
    the exact batch expressions from ``operators.corpus`` — one
    definition, two execution paths, same oracle.
    """
    import uuid as _uuid

    from parquet_to_csv_spark.operators.corpus import (
        SECRET_ORDER,
        SECRET_PATTERNS,
        _secret_augmented_text,
    )

    stage = _stage_docs_dir(spark, sf_dir)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(stage)
    )
    aug = _secret_augmented_text()
    counts = {
        k: F.size(F.regexp_extract_all(aug, F.lit(p), F.lit(0)))
        for k, p in SECRET_PATTERNS.items()
    }
    red = aug
    for k in SECRET_ORDER:
        red = F.regexp_replace(red, SECRET_PATTERNS[k], f"[{k.upper()}]")
    hit = None
    for c in counts.values():
        hit = c if hit is None else hit + c
    per_doc = stream.select(
        "source",
        *[counts[k].cast("long").alias(f"n_{k}") for k in SECRET_ORDER],
        (hit > 0).cast("long").alias("flagged"),
        F.md5(red).alias("red_fp"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("flagged").alias("n_flagged"),
        *[F.sum(f"n_{k}").alias(f"hits_{k}") for k in SECRET_ORDER],
        F.md5(F.concat_ws("", F.sort_array(F.collect_list("red_fp")))).alias(
            "redacted_digest"
        ),
    )
    name = "secret_scrub_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(agg, name, spark, output_mode="complete")


def anomaly_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E320 through the correctness gate: drain the custom
    stateful per-user anomaly detector over the staged event stream
    (one micro-batch ⇒ one final row per user). The flag decision is
    exact integer arithmetic against prior running stats in event
    order, so the DuckDB oracle replays it with prefix-window sums —
    a per-EVENT decision procedure verified value-exactly through the
    streaming execution path."""
    import uuid as _uuid

    from parquet_to_csv_spark.streaming.stateful import stateful_anomaly

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_anomaly_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        stateful_anomaly(read_event_stream(spark, stage)),
        name,
        spark,
        output_mode="update",
    )


def _backfill_batch_half(spark: SparkSession, sf_dir: str):
    """The batch (historical) half of E337 plus the shared in-plan
    cutoff relation. Pure plan construction — building it runs no
    Spark job (pinned by test_streaming_multimodal's job-group probe);
    the one-row day-bounds aggregate becomes a broadcast join inside
    whichever plan consumes it."""
    from parquet_to_csv_spark.functions.stable import stable_sum_2dp
    from parquet_to_csv_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cut = F.broadcast(
        ev.agg(
            F.min(F.expr("ts div 86400000000000")).alias("d0"),
            F.max(F.expr("ts div 86400000000000")).alias("d1"),
        ).select(
            F.expr("((d0 + d1 + 1) div 2) * 86400000000000").alias("cutoff_ns")
        )
    )
    hist = (
        ev.crossJoin(cut)
        .filter(F.col("ts") < F.col("cutoff_ns"))
        .drop("cutoff_ns")
    )
    batch_half = (
        hist.select(
            F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
            "event_type",
            "value",
        )
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            stable_sum_2dp(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("ws_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return batch_half, ev, cut


def hybrid_backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E337: Lambda-architecture backfill parity — the historical
    HALF of the events is aggregated in BATCH, the recent half is
    staged as files and aggregated through the STREAMING path, and the
    union must equal a single batch aggregation of everything (the
    oracle): the one-definition/two-paths contract a batch-backfill +
    live-tail deployment depends on. The split cutoff is the median
    DAY boundary — hour windows cannot straddle it, so the two halves'
    windows are disjoint by construction (the condition that makes the
    union exact; a mid-window cutoff would double-count and the gate
    would catch it).

    The cutoff is computed IN-PLAN: the one-row (d0, d1) bounds
    aggregate rides a broadcast join into both halves (the
    dead_stock_parts plan-internal-anchor pattern), so constructing
    the batch half triggers NO Spark job — round 3 collected the
    bounds at plan-build time, a full events scan before the query
    even ran. The only build-time jobs left are the tail staging
    write + drain, which ARE the streaming path under test.
    """
    import uuid as _uuid

    batch_half, ev, cut = _backfill_batch_half(spark, sf_dir)

    def _write_tail(p: str) -> None:
        (
            ev.crossJoin(cut)
            .filter(F.col("ts") >= F.col("cutoff_ns"))
            .drop("cutoff_ns")
            .coalesce(2)
            .write.mode("overwrite")
            .parquet(p)
        )

    stage = _staged_once(spark, sf_dir, "events", "tailstream_", _write_tail)
    tail = run_to_memory(
        streaming_tumbling_counts(read_event_stream(spark, stage)),
        "t_backfill_tail_" + _uuid.uuid4().hex[:8],
        spark,
    )
    return batch_half.unionByName(tail)


def tws_totals_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E348 through the gate: the transformWithStateInPandas
    running-totals processor (Spark 4 stateful API) drained
    availableNow over the staged event stream — one micro-batch, so
    update mode emits exactly one final row per user, equal to the
    batch aggregation oracle (the same oracle that gates E20's
    applyInPandasWithState twin)."""
    import uuid as _uuid

    from parquet_to_csv_spark.streaming.stateful import tws_user_totals

    stage = _stage_events_dir(spark, sf_dir)
    name = "t_tws_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(
        tws_user_totals(read_event_stream(spark, stage)),
        name,
        spark,
        output_mode="update",
    )


def streaming_variant_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E389: VARIANT inside Structured Streaming — E367's
    parse-once/probe-N semi-structured promotion running on the
    streaming execution path. Each micro-batch parses the props bag
    into a binary VARIANT and extracts ``$.k`` typed, BEFORE the
    watermarked aggregation — so only the pruned typed column crosses
    the shuffle, never the JSON string (the rule the batch twin
    documents, proven here to hold under incremental execution: the
    drained result must equal the batch oracle bit-for-bit).
    """
    import uuid as _uuid

    stage = _stage_events_dir(spark, sf_dir)
    stream = read_event_stream(spark, stage)
    promoted = (
        with_event_time(stream)
        .withWatermark("event_time", "1 hour")
        .select(
            "event_type",
            "event_time",
            F.expr("variant_get(try_parse_json(props), '$.k', 'int')").alias(
                "k"
            ),
        )
        .groupBy(F.window("event_time", "1 day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_k"),
            F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_k"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("day_ms"),
            "event_type",
            "n_events",
            "n_k",
            "sum_k",
        )
    )
    name = "t_variant_drain_" + _uuid.uuid4().hex[:8]
    return run_to_memory(promoted, name, spark)


def backpressure_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E401: bounded-rate ingestion (backpressure) — the one
    Structured Streaming ingestion knob the suite didn't exercise.
    ``events`` is staged as SIX parquet files and the file stream
    reads them with ``maxFilesPerTrigger=2``, so the availableNow
    drain processes exactly ceil(6/2) = 3 micro-batches (availableNow
    honors source rate limits — that IS the feature under test: a
    backfill over a month of files must not load the whole directory
    into one batch).

    Each micro-batch's ``foreachBatch`` appends its PARTIAL per-type
    aggregate (plus the batch id) to a parquet ledger — a few rows per
    batch, the incremental-aggregation discipline: the driver never
    holds data rows, and at 100 TB the ledger is still micro-batch ×
    type sized. The returned plan merges the ledger DECLARATIVELY
    (groupBy over partials) and carries the observed micro-batch
    count, so the oracle gates both: totals must survive arbitrary
    file→batch assignment, and ``n_batches`` pins that the rate limit
    actually split the drain (3, not 1)."""
    import tempfile

    from parquet_to_csv_spark.sources.tables import load_table

    stage = _staged_once(
        spark, sf_dir, "events", "evbp6_",
        lambda p: load_table(spark, sf_dir, "events").repartition(6)
        .write.mode("overwrite").parquet(p),
    )
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(stage)
    )
    ledger = tempfile.mkdtemp(prefix="bp_ledger_")
    ckpt = tempfile.mkdtemp(prefix="bp_ckpt_")

    def _partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.expr("cast(floor(value * 100 + 0.5) as long)")
                ).alias("cents"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("append")
            .parquet(ledger)
        )

    with _state_width(spark, 8):
        q = (
            stream.writeStream.foreachBatch(_partial)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    parts = spark.read.parquet(ledger)
    nb = F.broadcast(
        parts.agg(F.countDistinct("batch_id").alias("n_batches"))
    )
    return (
        parts.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .crossJoin(nb)
    )


def _stage_latedrop_dirs(spark: SparkSession, sf_dir: str) -> str:
    """Three single-file chunks of ``events`` with CONTROLLED
    modification times so the file stream (latestFirst=false,
    maxFilesPerTrigger=1) processes middle → old → new:

    - f1 (oldest mtime): the MIDDLE 40-80%% of the ts range — first
      batch, establishes the watermark;
    - f2: the OLD 0-40%% — arrives second, i.e. LATE;
    - f3 (newest mtime): the NEW 80-100%% tail — advances the
      watermark and flushes surviving windows.
    """
    import glob
    import os
    import shutil

    from parquet_to_csv_spark.sources.tables import load_table

    def _write(p: str) -> None:
        os.makedirs(p)
        ev = load_table(spark, sf_dir, "events")
        bounds = F.broadcast(
            ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t3"))
        )
        cuts = [
            ("f1", "ts >= t0 + (t3 - t0) * 2 div 5 AND ts < t0 + (t3 - t0) * 4 div 5"),
            ("f2", "ts < t0 + (t3 - t0) * 2 div 5"),
            ("f3", "ts >= t0 + (t3 - t0) * 4 div 5"),
        ]
        for i, (name, cond) in enumerate(cuts):
            tmp = os.path.join(p, "_tmp_" + name)
            (
                ev.crossJoin(bounds)
                .filter(F.expr(cond))
                .drop("t0", "t3")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(p, f"{name}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))

    return _staged_once(spark, sf_dir, "events", "evlate_", _write)


def latedrop_drain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E410: watermark FINALIZATION audit under out-of-order
    arrival — every other drain in the suite equals its batch twin
    because nothing arrives late; this one stages lateness
    deliberately (middle → old → new micro-batches, one file each,
    mtime-ordered) and gates what Spark's append mode actually
    guarantees, measured on this engine build:

    - deep-late rows whose windows were NEVER finalized are accepted
      into state and emitted when the watermark next passes —
      ``numRowsDroppedByWatermark`` stays 0 for streaming aggregation
      here (the drop path belongs to already-evicted state; pytest
      pins the metric so a semantics change in a Spark upgrade
      surfaces loudly);
    - a window is emitted EXACTLY ONCE, when the watermark passes its
      end (pytest asserts no duplicate append rows);
    - tail windows whose end exceeds the final watermark
      (ms-floored global max event time − 30 min) are withheld.

    The oracle replays that finalization rule exactly — windows with
    end ≤ final watermark, counts over all rows — so any deviation in
    eviction predicate (≤ vs <), watermark arithmetic (ms flooring,
    delay subtraction), or file ordering shifts the hash."""
    import uuid as _uuid

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
        .groupBy(
            F.window("event_time", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_millis(F.col("w.start")).alias("ws_ms"),
            "event_type",
            "n_events",
        )
    )
    name = "t_latedrop_" + _uuid.uuid4().hex[:8]
    return run_to_memory(agg, name, spark, output_mode="append")


def statestore_introspection_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E421: STATE STORE READER — Spark 4's ``statestore`` batch
    data source turns a streaming query's checkpointed state into a
    queryable table (key struct, value struct, partition_id). This is
    the ops surface a production streaming deployment lives on:
    inspecting what a stateful operator is actually holding — skewed
    keys, runaway cardinality, stuck sessions — WITHOUT stopping the
    query or instrumenting its code.

    The drain: a per-event-type streaming count runs availableNow over
    the staged events into a throwaway sink; the RESULT IS DISCARDED —
    what this query returns is the aggregation state read back from
    the checkpoint through the statestore source. The DuckDB oracle is
    the batch twin (count per type over the same rows), so the gate
    proves state introspection reconstructs the aggregation exactly.

    Scale: the state source reads the HDFS/RocksDB state files
    directly, one task per store partition — inspection cost is
    O(state), never a replay of the stream.
    """
    import tempfile
    import uuid as _uuid

    stage = _stage_events_dir(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ss_introspect_")
    src = read_event_stream(spark, stage)
    counts = src.groupBy("event_type").count()
    with _state_width(spark, 8):
        q = (
            counts.writeStream.format("memory")
            .queryName("t_ss_sink_" + _uuid.uuid4().hex[:8])
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


def state_metadata_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E430: the ``state-metadata`` batch source — the companion of
    E421's state reader: BEFORE touching a single state row, an
    operator can list WHICH stateful operators a checkpoint holds,
    under what store names, across how many partitions and batches —
    the first call every state-inspection / state-migration tool makes
    (repartitioning a stateful query requires exactly this check, since
    the store partition count is pinned at first checkpoint).

    The drain runs a TWO-stateful-operator pipeline (streaming
    dropDuplicates feeding a per-type count) so the metadata lists two
    distinct operators; the DuckDB oracle asserts the full expected
    inventory as constants — deterministic because the staged input is
    one availableNow pass (2 files < maxFilesPerTrigger ⇒ batch 0
    only) and the state partition count is pinned to 8 by the drain
    harness.
    """
    import tempfile
    import uuid as _uuid

    stage = _stage_events_dir(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ss_meta_")
    src = read_event_stream(spark, stage)
    agg = src.dropDuplicates(["event_id"]).groupBy("event_type").count()
    with _state_width(spark, 8):
        q = (
            agg.writeStream.format("memory")
            .queryName("t_ssmeta_" + _uuid.uuid4().hex[:8])
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    meta = spark.read.format("state-metadata").load(ckpt)
    return meta.select(
        F.col("operatorId").cast("long").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("numPartitions").cast("int").alias("n_partitions"),
        (F.col("maxBatchId") - F.col("minBatchId") + 1)
        .cast("long")
        .alias("n_batches"),
    )


def streaming_throughput(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> dict:
    """Round-7 bench tier (verdict item 6): sustained drain RATES for
    the streaming path — every drain in the registry is
    correctness-gated, but none was benched for throughput, so a
    state-store or per-micro-batch regression was invisible. Three
    measured legs over the same ``n_files``-file staged ``events``
    source, each an availableNow drain into the ``noop`` sink (no sink
    I/O in the number):

    - ``stateless``: projection+filter only — the ingestion ceiling of
      the file source (micro-batch overhead + scan + expression eval);
    - ``window_agg``: watermarked 1-hour-window × type aggregation —
      the stateful-aggregation path, state rows counted back from the
      checkpoint through the E421 ``statestore`` reader;
    - ``dedup``: ``dropDuplicates(event_id)`` — the max-cardinality
      state shape (one state row per input row, the worst case a
      dedup-at-ingest deployment sustains).

    Returns rates (rows/sec) + walls + state-row counts; bench.py
    records it as ``streaming_tier`` in BENCH_OUT.json — OUTSIDE the
    query total, so round-over-round query comparisons stay stable.
    Multi-batch by construction (``maxFilesPerTrigger=2`` over
    ``n_files`` staged files ⇒ n_files/2 micro-batches), because a
    single mega-batch would hide per-batch state-commit overhead —
    the thing most likely to regress.
    """
    import tempfile
    import time

    from parquet_to_csv_spark.sources.tables import load_table

    stage = _staged_once(
        spark, sf_dir, "events", f"evtp{n_files}_",
        lambda p: load_table(spark, sf_dir, "events").repartition(n_files)
        .write.mode("overwrite").parquet(p),
    )
    n_rows = spark.read.parquet(stage).count()
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def _source() -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stage)
        )

    def _drain(df: DataFrame, mode: str, ckpt: str) -> float:
        t0 = time.perf_counter()
        q = (
            df.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.perf_counter() - t0

    with _state_width(spark, 8):
        stateless = _source().filter(F.col("value") > 0).select(
            "event_id", "event_type",
            F.expr("cast(floor(value * 100 + 0.5) as long)").alias("cents"),
        )
        w_stateless = _drain(
            stateless, "append", tempfile.mkdtemp(prefix="tp_sl_")
        )

        agg_ckpt = tempfile.mkdtemp(prefix="tp_agg_")
        agg = (
            _source()
            .withColumn("ets", F.timestamp_micros(F.expr("ts div 1000")))
            .withWatermark("ets", "1 hour")
            .groupBy(F.window("ets", "1 hour"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w_agg = _drain(agg, "update", agg_ckpt)
        agg_state_rows = (
            spark.read.format("statestore").load(agg_ckpt).count()
        )

        dedup_ckpt = tempfile.mkdtemp(prefix="tp_dd_")
        dedup = _source().dropDuplicates(["event_id"])
        w_dedup = _drain(dedup, "append", dedup_ckpt)
        dedup_state_rows = (
            spark.read.format("statestore").load(dedup_ckpt).count()
        )

    def rate(w: float) -> int:
        return int(n_rows / w) if w > 0 else -1

    return {
        "rows": n_rows,
        "n_batches": -(-n_files // 2),
        "stateless_sec": round(w_stateless, 3),
        "stateless_rows_per_sec": rate(w_stateless),
        "window_agg_sec": round(w_agg, 3),
        "window_agg_rows_per_sec": rate(w_agg),
        "window_agg_state_rows": agg_state_rows,
        "dedup_sec": round(w_dedup, 3),
        "dedup_rows_per_sec": rate(w_dedup),
        "dedup_state_rows": dedup_state_rows,
    }


def streaming_merge_sink_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E453: STREAMING UPSERT SINK into the versioned snapshot
    store — the lakehouse ingestion pattern (Delta's foreachBatch-
    MERGE idiom): each micro-batch is applied with :func:`layout.
    merge_into`, so the table advances one atomic snapshot per batch,
    updates replace stale images, and a failed batch leaves no torn
    state (manifest link is all-or-nothing; availableNow replays the
    batch on restart).

    The drain: the table starts at v0 holding the EVEN event_ids with
    STALE values (value + 1000); the stream replays ALL events over
    four staged files (``maxFilesPerTrigger=2`` ⇒ two micro-batch
    merges). Final state must hold every event_id exactly once with
    the TRUE value — evens UPDATED from stale, odds INSERTED — so the
    oracle is a plain aggregate over ``events``, invariant to the
    file→batch assignment. E246's stateful upsert holds the latest
    image in STREAM STATE; this one lands it in the TABLE.
    """
    import os

    from parquet_to_csv_spark.sources import layout
    from parquet_to_csv_spark.sources.tables import load_table
    from parquet_to_csv_spark.functions.stable import exact_units

    def _build(stage: str) -> None:
        src = os.path.join(stage, "files")
        tdir = os.path.join(stage, "tbl")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        ev.repartition(4).write.parquet(src)
        layout.commit_version(
            spark, tdir,
            ev.filter(F.col("event_id") % 2 == 0)
            .withColumn("value", F.col("value") + F.lit(1000.0)),
        )
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )

        def _merge(batch_df: DataFrame, batch_id: int) -> None:
            layout.merge_into(spark, tdir, batch_df, "event_id")

        with _state_width(spark, 8):
            q = (
                stream.writeStream.foreachBatch(_merge)
                .option("checkpointLocation", os.path.join(stage, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    root = _staged_once(spark, sf_dir, "events", "mergesink_", _build)
    return (
        layout.read_version(spark, os.path.join(root, "tbl"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(exact_units(F.col("value"), 2)).cast("long").alias("sum_cents"),
            F.count_distinct("event_id").cast("long").alias("n_ids"),
        )
    )


def rocksdb_state_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E463: the ROCKSDB state-store provider — the provider every
    production Spark streaming deployment runs (bounded JVM heap:
    state lives off-heap in RocksDB with changelog/zip checkpointing)
    versus the default HDFS-backed in-memory map. The drain runs the
    per-type count aggregation with
    ``RocksDBStateStoreProvider`` scoped to the query, reads the
    final state back through the E421 ``statestore`` source (which
    must speak the RocksDB layout too), and returns it — the oracle is
    the plain batch aggregate, so the gate proves the provider swap
    changes WHERE state lives, never WHAT it holds. The provider conf
    is snapshotted at query START, so scoping the session conf around
    ``start()`` is sound; the pytest additionally asserts the
    checkpoint really contains RocksDB zip snapshots (provider
    actually engaged, not silently defaulted)."""
    import tempfile
    import uuid as _uuid

    from parquet_to_csv_spark.operators.timeops import scoped_session_conf

    stage = _stage_events_dir(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="rocksdb_state_")
    src = read_event_stream(spark, stage)
    counts = src.groupBy("event_type").count()
    with _state_width(spark, 8):
        with scoped_session_conf(
            spark,
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ):
            q = (
                counts.writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    # expose the checkpoint for the engagement pytest
    rocksdb_state_drain.last_checkpoint = ckpt  # type: ignore[attr-defined]
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


def streaming_resume_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E494: exactly-once RESUME from a checkpoint — the recovery
    contract every production stream lives on, executed end-to-end:
    drain half the input to a parquet sink, STOP, append new source
    files, start a NEW query on the SAME checkpoint + sink, drain
    again. The checkpoint's source log must skip everything the first
    incarnation committed and the sink's ``_spark_metadata`` log must
    make both incarnations' output read as one atomic table — each
    input row exactly once, which is precisely what the batch oracle
    over the full input checks.

    (E59 pins sink idempotency for a REPLAYED batch; this pins the
    complement — cross-restart source-offset dedup.)
    """
    import os
    import tempfile

    from pyspark.sql import functions as F

    from parquet_to_csv_spark.functions.stable import exact_units
    from parquet_to_csv_spark.sources.tables import load_table

    base = tempfile.mkdtemp(prefix="resume_drain_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain_once()
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain_once()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(exact_units(F.col("value"), 2)).cast("long").alias(
                "sum_cents"
            ),
        )
    )


def streaming_dedup_watermark_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E503: ``dropDuplicatesWithinWatermark`` — the Spark 3.5+
    streaming dedup that BOUNDS state by event time where plain
    ``dropDuplicates`` (E41) keeps keys forever: a duplicate arriving
    within the watermark of its first sighting is dropped, and the
    key's state is evicted once the watermark passes it — the only
    dedup you can run on an unbounded CDC/ingest stream.

    The staged fixture injects a duplicate of every 10th event into
    the source files; the drained per-type aggregate must equal the
    batch aggregate over the ORIGINAL events (every injected dup
    inside the horizon, hence dropped).
    """
    import os
    import tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    from parquet_to_csv_spark.functions.stable import exact_units
    from parquet_to_csv_spark.sources.tables import load_table

    src = tempfile.mkdtemp(prefix="dedup_wm_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    dups = ev.filter(F.col("event_id") % 10 == 0)
    ev.unionByName(dups).coalesce(2).write.mode("overwrite").parquet(
        os.path.join(src, "files")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(os.path.join(src, "files"))
    )
    deduped = (
        with_event_time(stream)
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(exact_units(F.col("value"), 2)).cast("long").alias("sum_cents"),
    )
    name = "t_dedup_wm_" + _uuid.uuid4().hex[:8]
    return run_to_memory(agg, name, spark, output_mode="complete")
