"""Reference answers computed without Spark: DuckDB over the generated
files, a Python union-find and pandas replays of the streaming operators. Each ``check_*`` returns
``(ok, detail)``; ``ok`` is False on any mismatch.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import glob
import math
import os
import sqlite3
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# value normalisation shared by the registry and streaming checks
# --------------------------------------------------------------------------


def norm(v):
    """A hashable, engine-neutral form of one result value: Spark
    ``Row`` values and DuckDB ``fetchall`` values of the same answer
    normalise to equal objects."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() and abs(v) < 2**63 else v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((norm(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, np.generic):
        return norm(v.item())
    return v


def norm_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples of normalised values, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(norm(r[i]) for i in order) for r in rows]


def compare_rows(got_cols, got_rows, want_cols, want_rows) -> tuple[bool, str]:
    if sorted(got_cols) != sorted(want_cols):
        return False, f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    got = Counter(norm_rows(list(got_cols), got_rows))
    want = Counter(norm_rows(list(want_cols), want_rows))
    if got == want:
        return True, ""
    n_got, n_want = sum(got.values()), sum(want.values())
    extra = next(iter(got - want), None)
    return False, f"rows {n_got} vs {n_want}; first unexpected row {extra!r}"


# --------------------------------------------------------------------------
# query_mix: the registry's DuckDB oracle SQL
# --------------------------------------------------------------------------


_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
_SHINGLES = ("list_distinct(list_transform(range(0, greatest(len(toks)-3, 0)+1), "
             "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))")

# The registry's minhash_lsh_pairs oracle compares every pair of
# documents (12 s in DuckDB at sf0.01). This is the same relation, exact
# shingle Jaccard >= 0.5, computed through an inverted index on the
# shingles: a pair below that sharing no shingle has Jaccard 0.
# selftest.py checks that both give the same rows.
FAST_ORACLES = {"minhash_lsh_pairs": f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
), x AS (
  SELECT doc_id, unnest(sh) AS s FROM sh
), i AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
  FROM x a JOIN x b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
), j AS (
  SELECT doc_a, doc_b, i.n / CAST(len(sa.sh) + len(sb.sh) - i.n AS DOUBLE) AS jac
  FROM i JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5
"""}


class QueryOracle:
    """DuckDB views over the generated tables, as the registry's
    ``ORACLES`` SQL expects them."""

    def __init__(self, sf_dir: str, table_names: list[str]):
        self.con = duckdb.connect()
        for t in table_names:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, sql: str, cols: list[str], rows) -> tuple[bool, str]:
        cur = self.con.execute(sql)
        want_cols = [d[0] for d in cur.description]
        return compare_rows(cols, rows, want_cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()


# --------------------------------------------------------------------------
# convert
# --------------------------------------------------------------------------


def convert_expected(root: str, min_ms: int, long_ms: int) -> dict:
    """The reference transform over the generated tree in DuckDB:
    union-by-name scan, floor-each-then-subtract ``duration_ms``,
    ``>= min_ms`` filter and a distinct over every column."""
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE VIEW spans AS
            SELECT DISTINCT (end_time // 1000000) - (start_time // 1000000) AS duration_ms, *
            FROM read_parquet('{root}/**/*.parquet', union_by_name = true)
            WHERE (end_time // 1000000) - (start_time // 1000000) >= {min_ms}
        """)
        full = con.execute("SELECT count(*) FROM spans").fetchone()[0]
        long_ = con.execute(
            f"SELECT count(*) FROM spans WHERE duration_ms >= {long_ms}").fetchone()[0]
        cols = [d[0] for d in con.execute("SELECT * FROM spans LIMIT 0").description]
        at = dict(con.execute(
            "SELECT duration_ms, count(*) FROM spans WHERE duration_ms IN "
            f"({min_ms}, {long_ms}) GROUP BY 1").fetchall())
    finally:
        con.close()
    return {"full": full, "long": long_, "columns": cols, "at_boundary": at}


def _csv_rows(path: str) -> tuple[int, list[str]]:
    n, header = 0, []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="") as f:
            reader = csv.reader(f)
            header = next(reader, header)
            n += sum(1 for _ in reader)
    return n, header


def check_convert(result: dict, expected: dict, union_cols: list[str]) -> tuple[bool, str]:
    n_full, header = _csv_rows(result["csv"]["full"])
    n_long, _ = _csv_rows(result["csv"]["long"])
    con = sqlite3.connect(result["sqlite_path"])
    try:
        n_sql = con.execute("SELECT count(*) FROM trace").fetchone()[0]
        sql_cols = [c[1] for c in con.execute("PRAGMA table_info(trace)")]
    finally:
        con.close()
    problems = []
    if (n_full, n_long, n_sql) != (expected["full"], expected["long"], expected["full"]):
        problems.append(f"rows csv={n_full} long={n_long} sqlite={n_sql}, "
                        f"expected {expected['full']}/{expected['long']}")
    if result.get("sqlite_rows") != n_sql:
        problems.append(f"sqlite_rows {result.get('sqlite_rows')} != table {n_sql}")
    missing = [c for c in union_cols if c not in header or c not in sql_cols]
    if missing:
        problems.append(f"union columns missing: {missing}")
    return not problems, "; ".join(problems)


def output_bytes(result: dict) -> int:
    total = os.path.getsize(result["sqlite_path"])
    for key in ("full", "long"):
        total += sum(os.path.getsize(p)
                     for p in glob.glob(os.path.join(result["csv"][key], "part-*")))
    return total


# --------------------------------------------------------------------------
# connected components
# --------------------------------------------------------------------------


def union_find_labels(src, dst) -> dict[int, int]:
    """vertex -> smallest vertex id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def check_cc(rows, expected: dict[int, int]) -> tuple[bool, str]:
    got = {int(r[0]): int(r[1]) for r in rows}
    if got == expected:
        return True, ""
    wrong = sum(1 for v, c in expected.items() if got.get(v) != c)
    return False, f"{wrong} of {len(expected)} labels differ ({len(got)} returned)"


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


def expected_stream(kind: str, ev: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """The drained result of one streaming operator, replayed in pandas."""
    if kind == "tumbling":
        hour_ms = (ev["ts"] // 1000 // 3_600_000_000) * 3_600_000
        cents = (ev["value"] * 100).round().astype("int64")
        g = (pd.DataFrame({"ws_ms": hour_ms, "event_type": ev["event_type"], "c": cents})
             .groupby(["ws_ms", "event_type"], as_index=False)
             .agg(n_events=("c", "size"), sum_value=("c", "sum")))
        g["sum_value"] = g["sum_value"] / 100.0
        cols = ["ws_ms", "event_type", "n_events", "sum_value"]
    elif kind == "dedup":
        g = ev.drop_duplicates("event_id").assign(ts_us=ev["ts"] // 1000)
        cols = ["event_id", "ts_us", "user_id", "event_type", "value"]
    elif kind == "stateful":
        cents = (ev["value"] * 100).round().astype("int64")
        g = (pd.DataFrame({"user_id": ev["user_id"], "c": cents, "t": ev["ts"] // 1000})
             .groupby("user_id", as_index=False)
             .agg(n_events=("c", "size"), sum_value=("c", "sum"), last_ts_us=("t", "max")))
        g["sum_value"] = g["sum_value"] / 100.0
        cols = ["user_id", "n_events", "sum_value", "last_ts_us"]
    else:
        raise ValueError(kind)
    return cols, list(g[cols].itertuples(index=False, name=None))


def final_update_rows(cols: list[str], rows) -> list[tuple]:
    """An update-mode sink holds one row per key per micro-batch; keep
    each user's last emission (the one with the most events)."""
    i_user, i_n = cols.index("user_id"), cols.index("n_events")
    last: dict = {}
    for r in rows:
        if r[i_user] not in last or r[i_n] > last[r[i_user]][i_n]:
            last[r[i_user]] = r
    return list(last.values())
