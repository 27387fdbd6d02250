#!/usr/bin/env python3
"""Run one benchmark workload against the package in this checkout.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 8 --trace 0

One process, one closed-loop client: the next op starts only after the
previous one has finished and been checked. Spark runs at
``local[<cores>]``. Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout and removed at exit; a JSON record
of every op is kept in ``.perfbench_work/records/``. The last line of
standard output is the result object. See README.md in this directory.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "parquet_to_csv_spark", "__init__.py")
# End-to-end metrics printed by an untraced run. The wall-clock figures
# (op_p50_s, op_p90_s, ops_per_s, rows_per_s) go to the run record only:
# host steal episodes spread them past any allowed bound (README.md,
# "Steadiness").
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["convert", "query_mix", "streaming"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the package write inside the
    checkout's work directory, and make worker processes import the
    package from this checkout."""
    for d in ("tmp", "local", "artifacts", "inputs", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    env["TZ"] = "UTC"
    time.tzset()
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={env['TMPDIR']}", "-XX:-UsePerfData"]))
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait until every
    process the session started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from perfbench.harness import descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a hung JVM is killed below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    alive = started
    while alive and time.time() < deadline:
        alive = [p for p in alive if _alive(p)]
        time.sleep(0.05)
    for p in alive:
        os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def aggregate_layers(records, per_layer: dict) -> dict:
    """Per-op layer figures to one value each: times and rates are the
    median over the ops that report them, counts the mean per op, and
    state memory the maximum. A layer no op used reads 0."""
    out = {}
    for name, unit in per_layer.items():
        vals = [r.layers[name] for r in records if name in r.layers]
        if not vals:
            out[name] = 0.0
        elif name == "streaming.state_memory_bytes":
            out[name] = max(vals)
        elif unit in ("s", "1/s"):
            out[name] = statistics.median(vals)
        else:
            out[name] = sum(vals) / len(vals)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(PACKAGE):
        print(f"error: the package is not in this checkout ({PACKAGE} missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import (Ledger, OpRecord, Stopwatch, calibrate, host_steal_s,
                                   java_pids, n_beyond, process_start_age_s, vm_hwm_mb)

    boot_s = process_start_age_s() - (time.perf_counter() - T0)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    spark = None
    # host-speed samples, taken between ops throughout the run
    calib = [calibrate() for _ in range(8)]
    try:
        import parquet_to_csv_spark
        from parquet_to_csv_spark.session import get_spark

        if not os.path.abspath(parquet_to_csv_spark.__file__).startswith(ROOT + os.sep):
            raise RuntimeError(f"imported {parquet_to_csv_spark.__file__}, not this checkout's")
        from perfbench import tracing
        from perfbench.workloads import PER_LAYER, WORKLOADS

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
        if args.trace:
            conf.update(tracing.event_log_conf(os.path.join(work, "eventlog")))
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        get_spark_s = time.perf_counter() - t
        calib += [calibrate() for _ in range(8)]

        wl = WORKLOADS[args.workload]()
        info = wl.setup(spark, os.path.join(work, "inputs"), args.seed)
        groups = tracing.JobGroups(spark) if args.trace else None
        if args.trace:
            listener = tracing.ProgressListener()
            spark.streams.addListener(listener)
            wl.attach_listener(listener)
        ledger = Ledger()
        order_rng = random.Random(args.seed)

        def execute(op, phase: str, traced: bool) -> None:
            op.prepare(os.path.join(work, "out"))
            tag = f"op{len(ledger.records)}-{op.name}"
            result, layers, err = None, {}, None
            with Stopwatch() as sw:
                try:
                    if traced:
                        result, layers = op.run_traced(spark, groups, tag)
                    else:
                        result = op.run(spark)
                except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                    err = f"{type(e).__name__}: {e}"[:800]
            if err is None:
                try:
                    ok, detail = op.check(result)
                    wl.after_check(op, result, layers)
                except Exception as e:  # noqa: BLE001 — a check that raises fails the op
                    ok, detail = False, f"check raised {type(e).__name__}: {e}"[:800]
            else:
                ok, detail = False, err
            op.cleanup(spark)
            spark.catalog.clearCache()
            layers["tag"] = tag
            calib.append(calibrate())
            ledger.add(OpRecord(op.name, phase, sw.wall, sw.cpu, ok, op.rows, detail, layers,
                                calib[-1]))
            if not ok:
                print(f"FAILED {phase} {op.name}: {detail}", file=sys.stderr)

        def run_pass(phase: str, traced: bool = False) -> float:
            t = time.perf_counter()
            # warm-up runs every op once; the other passes run each op
            # ``weight`` times
            ops = [op for op in wl.ops for _ in range(1 if phase == "warmup" else op.weight)]
            order_rng.shuffle(ops)
            for op in ops:
                execute(op, phase, traced)
            return time.perf_counter() - t

        warm = [run_pass("warmup") for _ in range(wl.warmup_passes)]
        if args.trace:
            run_pass("untraced")
        n_passes = max(1, round(args.seconds / wl.pass_s))
        steal0 = host_steal_s()
        t_measure = time.perf_counter()
        for _ in range(n_passes):
            run_pass("measure", traced=bool(args.trace))
        measure_wall = time.perf_counter() - t_measure
        steal = host_steal_s() - steal0
        rss_driver = vm_hwm_mb(os.getpid())
        rss_jvm = sum(vm_hwm_mb(p) for p in java_pids())
        setup_s = boot_s + (t_measure - T0)
        wl.close()
        stop_spark(spark)
        spark = None

        measured = ledger.phase("measure")
        attempted, failed = ledger.counts("measure")
        _, warm_failed = ledger.counts("warmup")
        e2e = ledger.figures()
        e2e["setup_s"] = setup_s
        calib_med = statistics.median(calib)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": os.environ["SPARK_GRAFT_CPUS"],
            "boot_s": boot_s, "get_spark_s": get_spark_s, "warmup_pass_s": warm,
            "measure_passes": n_passes, "measure_wall_s": measure_wall,
            "host_steal_s": steal, "rss_driver_mb": rss_driver, "rss_jvm_mb": rss_jvm,
            "attempted": attempted, "failed": failed,
            "failed_frac": ledger.failed_frac(), "warmup_failed": warm_failed,
            "ops_beyond_p90": n_beyond([r.wall_s for r in measured], e2e["op_p90_s"]),
            "figures": e2e, "calib_median_s": calib_med, "calib_s": calib,
            "inputs": info,
        }
        record.update(wl.figures(measured))
        if args.trace:
            by_group = tracing.task_metrics_by_group(os.path.join(work, "eventlog"))
            for r in measured:
                for layer in ("plans", "operators"):
                    for k, v in by_group.get(f"{r.layers['tag']}/{layer}", {}).items():
                        r.layers[f"{layer}.{k}"] = v
            layers = aggregate_layers(measured, PER_LAYER)
            untraced = statistics.median(r.wall_s for r in ledger.phase("untraced"))
            traced = statistics.median(r.wall_s for r in measured)
            layers.update({
                "session.get_spark_s": get_spark_s,
                "session.peak_rss_mb": rss_driver + rss_jvm,
                "host.steal_s": steal,
                "trace.op_p50_s": traced,
                "trace.overhead_s": traced - untraced,
                "trace.layer_gap_s": untraced - statistics.median(
                    r.layers["layer_sum_s"] for r in measured if "layer_sum_s" in r.layers),
            })
            record["per_layer"] = layers
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        record["ops"] = [vars(r) for r in ledger.records]
        os.makedirs(os.path.join(base, "records"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
        with open(os.path.join(base, "records", name), "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"{args.workload} seed={args.seed}: {attempted} ops ({n_passes} passes), "
              f"{failed} failed, steal {steal:.2f}s, calib {calib_med * 1000:.1f}ms, "
              f"setup {setup_s:.2f}s, p50 {e2e['op_p50_s']:.3f}s, "
              f"cpu/op {e2e['cpu_s_per_op']:.3f}s",
              file=sys.stderr)
        print(json.dumps({"correct": all(r.ok for r in ledger.records),
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        # get_spark writes its log4j2 config and codegen log to fixed
        # per-process paths; remove this process's pair
        for path in (f"/tmp/spark_graft_log4j2_{os.getpid()}.properties",
                     f"/tmp/spark_graft_codegen_{os.getpid()}.log"):
            if os.path.exists(path):
                os.remove(path)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
