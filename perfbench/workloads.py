"""The three workloads. Each builds its inputs from the seed, then
exposes a list of ops; one op is one call into the package's public
API plus the action that delivers its result. ``run`` is the timed
call, ``check`` verifies the answer outside the timed region, and
``run_traced`` repeats ``run`` with every layer boundary observed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import uuid

import pyarrow.parquet as pq

from perfbench import gen, oracles
from perfbench.harness import digest
from perfbench.tracing import catalyst_phases_s, summarise_progress

MIN_MS, LONG_MS = 2000, 2650     # the reference pipeline's two thresholds


class Workload:
    """One input set and its ops. ``pass_s`` is the nominal wall time of
    one pass, which turns ``--seconds`` into a whole number of passes."""

    name = ""
    warmup_passes = 2
    pass_s = 1.0
    ops: list["Op"] = []

    def setup(self, spark, inputs: str, seed: int) -> dict:
        raise NotImplementedError

    def after_check(self, op, result, layers: dict) -> None:
        """Per-op figures taken from a checked result (untimed)."""

    def attach_listener(self, listener) -> None:
        pass

    def figures(self, measured) -> dict:
        """Workload-specific figures for the run record."""
        return {}

    def close(self) -> None:
        pass


class Op:
    name = "op"
    rows = 0                      # input rows this op consumes
    weight = 1                    # runs per measured pass

    def prepare(self, work: str) -> None:
        self.out = os.path.join(work, "out", f"{self.name}-{uuid.uuid4().hex[:8]}")

    def cleanup(self, spark) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, spark):
        raise NotImplementedError

    def run_traced(self, spark, groups, tag: str):
        raise NotImplementedError

    def check(self, result) -> tuple[bool, str]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# convert
# --------------------------------------------------------------------------


class ConvertOp(Op):
    name = "convert"

    def __init__(self, tree: dict, expected: dict):
        self.tree, self.expected = tree, expected
        self.rows = tree["rows"]

    def _cfg(self):
        from parquet_to_csv_spark.pipeline import ConvertConfig

        return ConvertConfig(write_csv=True, write_sqlite=True)

    def run(self, spark):
        from parquet_to_csv_spark.pipeline import convert

        return convert(spark, self.tree["root"], self.out, self._cfg())

    def run_traced(self, spark, groups, tag):
        """The layer calls of ``pipeline.convert`` in the order it makes
        them (CSV and SQLite sinks, no checkpoint dir), each timed."""
        import time

        from parquet_to_csv_spark.pipeline import transform
        from parquet_to_csv_spark.sinks.csv_sink import write_csv_splits
        from parquet_to_csv_spark.sinks.sqlite_sink import write_sqlite
        from parquet_to_csv_spark.sources.parquet import read_parquet_tree

        cfg = self._cfg()
        t0 = time.perf_counter()
        with groups.group(f"{tag}/sources"):
            raw = read_parquet_tree(spark, self.tree["root"])
            raw.schema
        t1 = time.perf_counter()
        with groups.group(f"{tag}/pipeline"):
            cooked = transform(raw, cfg).persist()
        t2 = time.perf_counter()
        # persist plans a copy of the query; plan ``cooked``'s own query
        # execution (outside the timed spans) so its tracker has all phases
        cooked._jdf.queryExecution().executedPlan()
        phases = catalyst_phases_s(cooked)
        try:
            with groups.group(f"{tag}/sinks"):
                t3 = time.perf_counter()
                csv_paths = write_csv_splits(cooked, self.out,
                                             long_threshold_ms=cfg.max_duration_ms)
                t4 = time.perf_counter()
                os.makedirs(self.out, exist_ok=True)
                db_path = os.path.join(self.out, "database.db")
                n = write_sqlite(cooked, db_path)
                t5 = time.perf_counter()
        finally:
            cooked.unpersist()
        result = {"csv": csv_paths, "sqlite_rows": n, "sqlite_path": db_path}
        layers = {
            "sources.read_parquet_tree_s": t1 - t0,
            "pipeline.build_s": t2 - t1,
            **{f"pipeline.{k}_s": v for k, v in phases.items()},
            "sinks.write_csv_splits_s": t4 - t3,
            "sinks.write_sqlite_s": t5 - t4,
            "sinks.sqlite_rows_per_s": n / (t5 - t4),
            "sinks.jobs": groups.counts(f"{tag}/sinks")["jobs"],
            "layer_sum_s": (t2 - t0) + (t5 - t3),
        }
        return result, layers

    def check(self, result):
        return oracles.check_convert(result, self.expected,
                                     gen.SCHEMA_A_ONLY + gen.SCHEMA_B_ONLY)


class Convert(Workload):
    name = "convert"
    # wall time per convert call flattens after about five calls, process
    # CPU after about twelve; with eight, the CPU still fell through the
    # measured calls and its ten-run spread reached 0.19 (README.md,
    # "Steadiness")
    warmup_passes = 12
    pass_s = 1.0

    def setup(self, spark, inputs: str, seed: int) -> dict:
        tree = gen.gen_convert_tree(seed, os.path.join(inputs, "tree"))
        expected = oracles.convert_expected(tree["root"], MIN_MS, LONG_MS)
        missing = [b for b in (MIN_MS, LONG_MS) if not expected["at_boundary"].get(b)]
        if missing:
            raise RuntimeError(f"generated tree lacks boundary rows at {missing} ms")
        self.ops = [ConvertOp(tree, expected)]
        return {"tree": tree, "expected": expected}

    def after_check(self, op, result, layers) -> None:
        n = oracles.output_bytes(result)
        layers["sinks.bytes_written"] = n
        layers["sinks.out_bytes_per_in_byte"] = n / op.tree["bytes"]

    def figures(self, measured) -> dict:
        return {"out_bytes_per_in_byte": statistics.median(
            r.layers["sinks.out_bytes_per_in_byte"] for r in measured)}


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------


class QueryOp(Op):
    def __init__(self, name: str, build, sql: str, oracle, sf_dir: str, weight: int = 1):
        self.name, self.build, self.sql, self.weight = name, build, sql, weight
        self.oracle, self.sf_dir = oracle, sf_dir
        self.verified: str | None = None   # digest of the oracle-checked answer
        self.oracle_failed = ""

    def run(self, spark):
        df = self.build(spark, self.sf_dir)
        return df.columns, df.collect(), df

    def run_traced(self, spark, groups, tag):
        import time

        from parquet_to_csv_spark.session import read_codegen_failures

        offset, _ = read_codegen_failures(0)
        group = f"{tag}/plans"
        with groups.group(group):
            t0 = time.perf_counter()
            df = self.build(spark, self.sf_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        _, fallbacks = read_codegen_failures(offset)
        counts = groups.counts(group)
        layers = {
            "plans.build_s": t1 - t0,
            **{f"plans.{k}_s": v for k, v in catalyst_phases_s(df).items()},
            "plans.collect_s": t2 - t1,
            "plans.jobs": counts["jobs"],
            "plans.tasks": counts["tasks"],
            "plans.codegen_fallbacks": fallbacks,
            "layer_sum_s": t2 - t0,
        }
        return (df.columns, rows, df), layers

    def check(self, result):
        cols, rows, _ = result
        d = digest(oracles.norm_rows(cols, rows))
        if self.oracle_failed:
            return False, f"oracle check failed earlier: {self.oracle_failed}"
        if self.verified is None:
            ok, detail = self.oracle.check(self.sql, cols, rows)
            if not ok:
                self.oracle_failed = detail
                return False, detail
            self.verified = d
            return True, ""
        return (d == self.verified), "" if d == self.verified else "result digest changed"


class CCOp(Op):
    """``operators.dedup.connected_components`` on a seeded edge set of
    shallow clusters and short chains, all within reach of the min-label
    probe: one eager job per round plus planning, the driver-side loop.
    Chains past the probe's 8-round cap would add the star-contraction
    rounds, which the time budget leaves out (README.md)."""

    name = "cc"

    def __init__(self, graph: dict):
        self.graph = graph
        self.rows = graph["edges"]
        self.expected = oracles.union_find_labels(graph["src"], graph["dst"])

    def run(self, spark):
        from parquet_to_csv_spark.operators.dedup import connected_components

        return connected_components(spark.read.parquet(self.graph["path"])).collect()

    def run_traced(self, spark, groups, tag):
        import time

        from parquet_to_csv_spark.operators.dedup import LAST_CC_ROUNDS, connected_components

        group = f"{tag}/operators"
        with groups.group(group):
            t0 = time.perf_counter()
            labels = connected_components(spark.read.parquet(self.graph["path"]))
            t1 = time.perf_counter()
            rows = labels.collect()
            t2 = time.perf_counter()
        rounds = LAST_CC_ROUNDS["minlabel"] + LAST_CC_ROUNDS["star"]
        jobs = groups.counts(group)["jobs"]
        return rows, {"operators.build_s": t1 - t0, "operators.collect_s": t2 - t1,
                      "operators.rounds": rounds, "operators.jobs": jobs,
                      "operators.jobs_per_round": jobs / rounds,
                      "layer_sum_s": t2 - t0}

    def check(self, result):
        return oracles.check_cc(result, self.expected)


class QueryMix(Workload):
    """Eight queries of the registry's first-50 correctness window, plus
    one iterative operator call.

    The queries were picked from the window's per-query warm costs
    (README.md, "query_mix subset"): the three heaviest, which make the
    tail, and the middle query of each of five equal-size cost strata of
    the other 47; ``price_quantiles``, the middle of the third stratum,
    gives a different answer from its oracle on some seeds and is
    replaced by its neighbour. A measured pass runs each stratum's query
    ``STRATUM_WEIGHT`` times, the tail queries and the CC op once."""

    name = "query_mix"
    pass_s = 5.0
    TAIL = ["simhash_pairs", "minhash_lsh_pairs", "ivf_topk"]
    STRATA = ["cosine_topk", "moving_avg_orders", "broadcast_dim_enrich", "text_stats",
              "anti_join_customers"]
    QUERIES = TAIL + STRATA
    STRATUM_WEIGHT = 3

    def setup(self, spark, inputs: str, seed: int) -> dict:
        from parquet_to_csv_spark.plans.registry import ORACLES, QUERIES
        from parquet_to_csv_spark.sources.tables import TABLE_NAMES

        window = list(QUERIES)[:50]
        outside = [n for n in self.QUERIES if n not in window]
        if outside:
            raise RuntimeError(f"not in the registry's first-50 window: {outside}")
        sf_dir = os.path.join(inputs, "sf")
        info = gen.gen_sf_tables(seed, sf_dir)
        graph = gen.gen_cc_edges(seed, os.path.join(inputs, "cc.parquet"),
                                 n_clusters=60, cluster_size=8, n_chains=3, chain_len=5)
        self.oracle = oracles.QueryOracle(sf_dir, TABLE_NAMES)
        self.ops = [QueryOp(n, QUERIES[n], oracles.FAST_ORACLES.get(n, ORACLES[n]),
                            self.oracle, sf_dir,
                            weight=self.STRATUM_WEIGHT if n in self.STRATA else 1)
                    for n in self.QUERIES]
        self.ops.append(CCOp(graph))
        self.table_rows = {os.path.join(sf_dir, f"{t}.parquet"): v["rows"]
                           for t, v in info["tables"].items()}
        return {"tables": info, "queries": self.QUERIES,
                "cc": {k: v for k, v in graph.items() if k not in ("src", "dst")}}

    def after_check(self, op, result, layers) -> None:
        """On a query's first op, count the rows of the generated tables
        its plan scans (``inputFiles``; artifacts are not counted)."""
        if isinstance(op, QueryOp) and op.rows == 0:
            paths = {f.removeprefix("file://").removeprefix("file:")
                     for f in result[2].inputFiles()}
            op.rows = sum(r for p, r in self.table_rows.items() if p in paths)

    def close(self) -> None:
        self.oracle.close()


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


class DrainOp(Op):
    MODES = {"tumbling": "complete", "dedup": "append", "stateful": "update"}

    def __init__(self, kind: str, events: dict, frame):
        self.name, self.events = kind, events
        self.rows = events["rows"]
        self.expected = oracles.expected_stream(kind, frame)

    def _drain(self, spark):
        from parquet_to_csv_spark.streaming import stateful, stream

        build = {"tumbling": stream.streaming_tumbling_counts,
                 "dedup": stream.streaming_dedup,
                 "stateful": stateful.stateful_user_totals}[self.name]
        # a fresh checkpoint root per drain: offsets, WAL and state
        # stores start empty every time
        spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(self.out, "ckpt"))
        self.query_name = f"pb_{self.name}_{uuid.uuid4().hex[:8]}"
        sink = stream.run_to_memory(build(stream.read_event_stream(spark, self.events["dir"])),
                                    self.query_name, spark, output_mode=self.MODES[self.name])
        return sink.columns, sink.collect()

    def run(self, spark):
        return self._drain(spark)

    def run_traced(self, spark, groups, tag):
        import time

        t0 = time.perf_counter()
        result = self._drain(spark)
        t1 = time.perf_counter()
        batches = self.listener.batches_named(self.query_name)
        layers = {f"streaming.{k}": v for k, v in summarise_progress(batches).items()}
        run_ids = {b["runId"] for b in batches}
        layers["streaming.jobs"] = sum(len(groups.collect(r)) for r in run_ids)
        layers["layer_sum_s"] = t1 - t0
        return result, layers

    def check(self, result):
        cols, rows = result
        want_cols, want_rows = self.expected
        if self.name == "stateful":
            rows = oracles.final_update_rows(list(cols), rows)
        return oracles.compare_rows(list(cols), rows, want_cols, want_rows)

    def cleanup(self, spark) -> None:
        spark.catalog.dropTempView(self.query_name)
        super().cleanup(spark)


class Streaming(Workload):
    name = "streaming"
    # the cold first pass costs about 2.3 steady passes; the second is
    # within 4% of steady, so it is measured: two measured passes of
    # three drains each at `--seconds 5` (README.md, "Steadiness")
    warmup_passes = 1
    pass_s = 2.5

    def setup(self, spark, inputs: str, seed: int) -> dict:
        events = gen.gen_event_files(seed, os.path.join(inputs, "events"),
                                     n_files=16, rows_per_file=750)
        frame = pq.read_table(events["dir"]).to_pandas()
        self.ops = [DrainOp(k, events, frame) for k in DrainOp.MODES]
        return {"events": events}

    def attach_listener(self, listener) -> None:
        for op in self.ops:
            op.listener = listener


WORKLOADS = {w.name: w for w in (Convert, QueryMix, Streaming)}

# Per-layer metrics reported by a traced run, with their units. Every
# workload reports every name; a layer the workload does not use reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.read_parquet_tree_s": "s",
    "pipeline.build_s": "s",
    "pipeline.analysis_s": "s",
    "pipeline.optimization_s": "s",
    "pipeline.planning_s": "s",
    "sinks.write_csv_splits_s": "s",
    "sinks.write_sqlite_s": "s",
    "sinks.sqlite_rows_per_s": "1/s",
    "sinks.jobs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.out_bytes_per_in_byte": "ratio",
    "plans.build_s": "s",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "plans.collect_s": "s",
    "plans.jobs": "count",
    "plans.tasks": "count",
    "plans.executor_cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_write_bytes": "bytes",
    "plans.codegen_fallbacks": "count",
    "operators.build_s": "s",
    "operators.collect_s": "s",
    "operators.rounds": "count",
    "operators.jobs": "count",
    "operators.jobs_per_round": "ratio",
    "operators.executor_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.jobs": "count",
    "streaming.state_memory_bytes": "bytes",
    "host.steal_s": "s",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_gap_s": "s",
}
