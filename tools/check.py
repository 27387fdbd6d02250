"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at a scale factor and diffs it against
``oracle_sql()`` in DuckDB: row count, schema (column names), and an
order-insensitive value comparison (columns sorted by name, rows sorted
by all columns, exact equality — same bar as a value-hash).

Usage: python tools/check.py [--first-50] [--log PATH] [sf_dir] [query ...]

``--log PATH`` writes a JSON artifact (per-query status/rows/seconds +
summary) — the committed full-registry check log the round-7 verdict
asked for (CHECKLOG_r{N}.json), auditable and diffable from the repo
alone.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_to_csv_spark.session import get_spark, read_codegen_failures  # noqa: E402
from parquet_to_csv_spark.sources.tables import TABLE_NAMES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if hasattr(v, '__len__') and not isinstance(v, str) else v
            )
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def compare(name: str, spark_df, oracle_df) -> list[str]:
    problems = []
    s, o = canon(spark_df), canon(oracle_df)
    if list(s.columns) != list(o.columns):
        problems.append(f"schema: spark={list(s.columns)} oracle={list(o.columns)}")
        return problems
    if len(s) != len(o):
        problems.append(f"rows: spark={len(s)} oracle={len(o)}")
        return problems
    for c in s.columns:
        sv, ov = s[c], o[c]
        # The driver's value-hash is dtype-sensitive: int64 5 and
        # float64 5.0 hash differently even though they compare equal
        # numerically.  Require realized-dtype parity so this class of
        # divergence can never pass locally.  (Nullable-int columns are
        # naturally legal: BOTH sides realize as float64.)
        if str(sv.dtype) != str(ov.dtype):
            problems.append(
                f"dtype[{c}]: spark={sv.dtype} oracle={ov.dtype}"
            )
        try:
            eq = (sv.isna() & ov.isna()) | (sv == ov)
        except Exception:
            eq = sv.astype(str) == ov.astype(str)
        if not eq.all():
            bad = (~eq).idxmax()
            problems.append(
                f"values[{c}]: first diff at row {bad}: spark={sv[bad]!r} oracle={ov[bad]!r} "
                f"({int((~eq).sum())} rows differ)"
            )
    return problems


def main() -> int:
    args = sys.argv[1:]
    # --first-50 replays EXACTLY the driver's sampled correctness
    # window (the first 50 registry entries, insertion order) — the
    # fast pre-round gate that catches any registry reordering or a
    # regression inside the window before the driver sees it.
    first_50 = "--first-50" in args
    args = [a for a in args if a != "--first-50"]
    log_path = None
    if "--log" in args:
        i = args.index("--log")
        if i + 1 >= len(args):
            print("usage: check.py [--first-50] [--log PATH] [sf_dir] [query ...]")
            return 2
        log_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("check")
    con = duck_con(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if first_50:
        qs = dict(list(qs.items())[:50])
    n_fail = 0
    log: dict[str, dict] = {}

    def record(name: str, status: str, t0: float, rows=None, detail=None):
        e = {"status": status, "sec": round(time.time() - t0, 2)}
        if rows is not None:
            e["rows"] = int(rows)
        if detail:
            e["detail"] = detail
        log[name] = e

    cg_off, _ = read_codegen_failures(0)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            record(name, "FAIL", t0, detail=f"spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        # codegen-fallback sniffer: a CompileException during this query
        # means Spark silently ran it interpreted. Values may still
        # match the oracle — that is exactly why this must be a FAIL
        # here, not a footnote (round-5 verdict item 4).
        cg_off, n_cg = read_codegen_failures(cg_off)
        if n_cg:
            print(
                f"FAIL {name}: {n_cg} whole-stage-codegen compile "
                "failure(s) — silent interpreted fallback"
            )
            record(name, "FAIL", t0, detail=f"{n_cg} codegen fallback(s)")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            record(name, "ROWS_ONLY", t0, rows=len(sdf))
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle raised {type(e).__name__}: {e}")
            record(name, "FAIL", t0, detail=f"oracle raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"  - {p}")
            record(name, "FAIL", t0, rows=len(sdf), detail="; ".join(problems))
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            record(name, "PASS", t0, rows=len(sdf))
    print(f"\n{n_fail} failures")
    if log_path:
        import json

        summary = {
            "sf_dir": sf_dir,
            "ts": time.time(),
            "strictness": "value+dtype+codegen",
            "n_checked": len(log),
            "n_pass": sum(1 for e in log.values() if e["status"] == "PASS"),
            "n_rows_only": sum(
                1 for e in log.values() if e["status"] == "ROWS_ONLY"
            ),
            "n_fail": n_fail,
            "total_sec": round(sum(e["sec"] for e in log.values()), 1),
            "queries": log,
        }
        with open(log_path, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
        print(f"log written to {log_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
