"""Per-query measurement harness for the optimization rounds.

For each named registry query (or a tier of them) this times, with the
bench's own session defaults:

- ``build``   — Python-side DataFrame construction (plan assembly)
- ``explain`` — analysis+optimization to a formatted physical plan
- ``noop``    — full execution into the noop sink (guide §1.4: every
  column of every row computed, output discarded) — the computation
  itself, isolated from collect/driver transfer
- ``collect`` — the bench's own timed action (plan + execute + collect)

Best-of-N per query (default 3).  Optionally dumps the formatted plan
to a file (``--plans DIR``) — the plans/r11 deliverable.  Dumps are
masked (expression ids, lambda-variable counters, artifact ``stage-*``
directories and temp paths), so dumps of two checkouts diff cleanly:

  python tools/qtime.py --runs 1 --plans /tmp/p_before name ...  # parent
  python tools/qtime.py --runs 1 --plans /tmp/p_after name ...   # change
  diff -r /tmp/p_before /tmp/p_after

Usage:
  python tools/qtime.py [--runs N] [--plans DIR] [--sf DIR] name [name ...]
  python tools/qtime.py --top 40            # slowest 40 from BENCH_OUT.json
  python tools/qtime.py --out FILE.json ...
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_to_csv_spark.plans.registry import QUERIES  # noqa: E402
from parquet_to_csv_spark.session import get_spark  # noqa: E402


def mask_plan(txt: str) -> str:
    """A plan dump with everything that varies between processes on
    the same code masked: ``#123`` expression ids, the global counters
    of lambda variables (``x_17``), committed artifact ``stage-*``
    directories and paths under the temp directory."""
    txt = re.sub(r"#\d+", "#", txt)
    txt = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1_*", txt)
    txt = re.sub(r"stage-[^/\s\],]+", "stage-*", txt)
    return re.sub(re.escape(tempfile.gettempdir()) + r"/[^/\s\],]+", "<tmp>", txt)


def measure(spark, name, fn, sf_dir, runs, plans_dir=None, suffix=""):
    out = {"build": [], "explain": [], "noop": [], "collect": []}
    plan_txt = None
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        out["build"].append(time.perf_counter() - t0)

        import contextlib
        import io

        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out["explain"].append(time.perf_counter() - t0)
        plan_txt = buf.getvalue()

        spark.sparkContext.setJobDescription(f"qtime:{name}:noop")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out["noop"].append(time.perf_counter() - t0)

        spark.sparkContext.setJobDescription(f"qtime:{name}:collect")
        t0 = time.perf_counter()
        df2 = fn(spark, sf_dir)
        df2.collect()
        out["collect"].append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
    if plans_dir and plan_txt is not None:
        os.makedirs(plans_dir, exist_ok=True)
        with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(mask_plan(plan_txt))
    return {k: round(min(v), 3) for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--suffix", default="", help="plan filename suffix, e.g. _before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        bo = json.load(open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_OUT.json")))["queries"]
        ranked = sorted(
            (k for k in bo if k in QUERIES), key=lambda k: -bo[k]
        )
        names.extend(k for k in ranked[: args.top] if k not in names)

    os.environ.setdefault(
        "SPARK_GRAFT_ARTIFACT_DIR", tempfile.mkdtemp(prefix="qtime_artifacts_")
    )
    spark = get_spark("qtime")
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()

    results = {}
    for name in names:
        if name not in QUERIES:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        try:
            r = measure(
                spark, name, QUERIES[name], args.sf, args.runs,
                plans_dir=args.plans, suffix=args.suffix,
            )
        except Exception as e:  # noqa: BLE001
            r = {"error": f"{type(e).__name__}: {e}"}
        results[name] = r
        print(
            f"{name:40s} build={r.get('build', -1):7.3f} "
            f"explain={r.get('explain', -1):7.3f} noop={r.get('noop', -1):7.3f} "
            f"collect={r.get('collect', -1):7.3f}"
            + (f"  ERR {r['error']}" if "error" in r else "")
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
