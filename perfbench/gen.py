"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` (or a seed) and an
output location, writes plain Parquet files with pyarrow, and returns a
``dict`` describing what it wrote (files, rows, and the properties each
workload depends on). The same seed gives byte-identical row content;
the package under test only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (["red", "blue", "small", "large", "hot", "old", "green", "cold"],
              ["widget", "ring", "plate", "rod", "gear", "bolt", "pipe", "cap"])
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

EPOCH_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
DAY_US = 86_400_000_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input kind), so adding draws to
    one generator never shifts another's data."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# query_mix: the ten fixture tables (FIXTURES.md schemas, sf0.01 sizes)
# --------------------------------------------------------------------------


def _date_us(days: np.ndarray, start: dt.date) -> pa.Array:
    base = int(dt.datetime(start.year, start.month, start.day,
                           tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _docs(rng: np.random.Generator, n: int, n_near_dups: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, size=int(k))) for k in lens]
    # near-duplicates built as the fixture's are: a copy of another
    # document with one token appended (shingle Jaccard (k-2)/(k-1) for a
    # k-token source, so 0.89 or more; never an exact duplicate)
    for i in rng.choice(n, size=n_near_dups, replace=False):
        src = int(rng.integers(0, n - 1))
        src += src >= i
        texts[i] = f"{texts[src]} {rng.choice(VOCAB)}"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 0.14, size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] + rng.normal(0.0, 1.0, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events_table(rng: np.random.Generator, n: int, n_users: int = 150) -> pa.Table:
    """``events`` rows: increasing µs timestamps from 2024-01-01 with
    exponential gaps, exponential 2-dp ``value`` and a small JSON prop."""
    gaps = rng.exponential(259e6, n).astype(np.int64) + 1
    ts = EPOCH_2024_US + np.cumsum(gaps)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, size=n).tolist(),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def gen_sf_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """The star schema plus ``events``, ``documents`` and ``embeddings``
    at sf0.01 sizes times ``scale``, one Parquet file per table."""
    rng = rng_for(seed, "sf_tables")
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, size=n_cust).tolist(),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, size=n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _date_us(order_days, dt.date(1995, 1, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, size=n_ord).tolist(),
    })
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], size=n_line).tolist(),
        "l_shipdate": _date_us(order_days[l_order] + rng.integers(1, 122, n_line),
                               dt.date(1995, 1, 1)),
    })
    tables["events"] = events_table(rng, n_ev)
    tables["documents"] = _docs(rng, int(500 * scale), int(25 * scale))
    tables["embeddings"] = _embeddings(rng, int(500 * scale))
    info = {"dir": out_dir, "tables": {}}
    for name, t in tables.items():
        nbytes = _write(t, os.path.join(out_dir, f"{name}.parquet"))
        info["tables"][name] = {"rows": t.num_rows, "bytes": nbytes}
    info["rows"] = sum(v["rows"] for v in info["tables"].values())
    return info


# --------------------------------------------------------------------------
# convert: a Parquet tree of trace spans
# --------------------------------------------------------------------------

SCHEMA_A_ONLY = ["value", "props"]   # present only in the "a" subtree files
SCHEMA_B_ONLY = ["status"]           # present only in the "b" subtree files
BOUNDARY_MS = [1999, 2000, 2649, 2650]


def _span_rows(rng: np.random.Generator, first_id: int, n: int) -> dict:
    start_ns = (EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))) * 1000
    # sub-ms start offsets make floor-each-then-subtract differ from
    # (end - start) / 1e6 on some rows
    start_ns += rng.integers(0, 1_000_000, n)
    dur_ns = rng.integers(1_000_000_000, 4_000_000_000, n)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": rng.integers(0, 500, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "start_time": start_ns.astype(np.int64),
        "end_time": (start_ns + dur_ns).astype(np.int64),
    }


def _plant_boundaries(rng: np.random.Generator, cols: dict) -> None:
    """Rows whose floor-then-subtract duration is exactly each boundary
    value, half of them reached only through the floor rule."""
    for j, ms in enumerate(BOUNDARY_MS * 2):
        i = int(rng.integers(0, len(cols["start_time"])))
        ms_start = cols["start_time"][i] // 1_000_000
        frac = 999_999 if j % 2 else 0
        cols["start_time"][i] = ms_start * 1_000_000 + frac
        cols["end_time"][i] = (ms_start + ms) * 1_000_000


def gen_convert_tree(seed: int, root: str, n_files: int = 8,
                     rows_per_file: int = 2500, dup_frac: float = 0.02) -> dict:
    """Span files in nested subdirectories with two overlapping schemas.

    Files alternate between schema A (``value``, ``props``) under
    ``a/...`` and schema B (``status``) under ``b/...``; every file
    shares the span columns. ``dup_frac`` of each file's rows are exact
    copies of rows of an earlier file of the same schema.
    """
    rng = rng_for(seed, "convert_tree")
    subdirs = ["a", "a/x", "a/x/y", "a/z", "b", "b/p", "b/p/q", "b/r"]
    info = {"root": root, "files": [], "rows": 0, "duplicates": 0, "bytes": 0,
            "boundary_ms": BOUNDARY_MS, "schema_a_only": SCHEMA_A_ONLY,
            "schema_b_only": SCHEMA_B_ONLY}
    pools: dict[str, list[pa.Table]] = {"a": [], "b": []}
    next_id = 0
    for f in range(n_files):
        schema = "a" if f % 2 == 0 else "b"
        sub = [s for s in subdirs if s[0] == schema][(f // 2) % 4]
        cols = _span_rows(rng, next_id, rows_per_file)
        next_id += rows_per_file
        _plant_boundaries(rng, cols)
        if schema == "a":
            cols["value"] = np.round(rng.exponential(50.0, rows_per_file), 2)
            cols["props"] = [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows_per_file)]
        else:
            cols["status"] = rng.choice(["ok", "timeout", "cancelled"], size=rows_per_file)
        table = pa.table(cols)
        n_dup = int(round(rows_per_file * dup_frac)) if pools[schema] else 0
        if n_dup:
            donor = pools[schema][int(rng.integers(0, len(pools[schema])))]
            idx = rng.choice(donor.num_rows, size=n_dup, replace=False)
            table = pa.concat_tables([table.slice(0, rows_per_file - n_dup),
                                      donor.take(pa.array(idx))])
        pools[schema].append(table)
        path = os.path.join(root, sub, f"part-{f:03d}.parquet")
        info["bytes"] += _write(table, path)
        info["files"].append(os.path.relpath(path, root))
        info["rows"] += table.num_rows
        info["duplicates"] += n_dup
    info["dup_share"] = info["duplicates"] / info["rows"]
    info["subdirs"] = len({os.path.dirname(p) for p in info["files"]})
    return info


# --------------------------------------------------------------------------
# query_mix: an edge set for connected components
# --------------------------------------------------------------------------


def gen_cc_edges(seed: int, path: str, n_clusters: int, cluster_size: int,
                 n_chains: int, chain_len: int) -> dict:
    """Shallow clusters (a star plus a few chords: diameter <= 3) and
    long chains (diameter ``chain_len - 1``) over shuffled vertex ids."""
    rng = rng_for(seed, f"cc_{n_clusters}_{n_chains}_{chain_len}")
    n_v = n_clusters * cluster_size + n_chains * chain_len
    ids = rng.permutation(n_v).astype(np.int64) * 3 + 1
    edges: list[tuple[int, int]] = []
    comps: list[list[int]] = []
    pos = 0
    for _ in range(n_clusters):
        members = ids[pos:pos + cluster_size].tolist()
        pos += cluster_size
        hub = members[0]
        edges += [(hub, m) for m in members[1:]]
        for _ in range(cluster_size // 2):
            a, b = rng.choice(members[1:], size=2, replace=False)
            edges.append((int(a), int(b)))
        comps.append(members)
    for _ in range(n_chains):
        members = ids[pos:pos + chain_len].tolist()
        pos += chain_len
        edges += list(zip(members[:-1], members[1:]))
        comps.append(members)
    order = rng.permutation(len(edges))
    src = np.array([edges[i][0] for i in order], np.int64)
    dst = np.array([edges[i][1] for i in order], np.int64)
    flip = rng.random(len(src)) < 0.5
    src[flip], dst[flip] = dst[flip], src[flip].copy()
    _write(pa.table({"src": src, "dst": dst}), path)
    return {"path": path, "vertices": n_v, "edges": len(src),
            "components": len(comps),
            "diameter_max": max(_diameter(edges, c) for c in comps[-1:] + comps[:1]),
            "shallow_clusters": n_clusters, "chains": n_chains, "chain_len": chain_len,
            "src": src, "dst": dst}


def _diameter(edges: list[tuple[int, int]], comp: list[int]) -> int:
    """Exact diameter of one component by BFS from every member."""
    members = set(comp)
    adj: dict[int, list[int]] = {v: [] for v in comp}
    for a, b in edges:
        if a in members:
            adj[a].append(b)
            adj[b].append(a)
    best = 0
    for s in comp:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        best = max(best, max(dist.values()))
    return best


# --------------------------------------------------------------------------
# streaming: event files for a file-stream source
# --------------------------------------------------------------------------


def gen_event_files(seed: int, out_dir: str, n_files: int = 4,
                    rows_per_file: int = 2500, dup_frac: float = 0.05) -> dict:
    """``events``-layout files with ``ts`` as ns-epoch longs (the
    stream reader's schema). ``dup_frac`` of each file's rows repeat an
    ``event_id`` of the previous file within the hour."""
    rng = rng_for(seed, "event_files")
    table = events_table(rng, n_files * rows_per_file)
    ts_ns = table["ts"].cast(pa.int64()).to_numpy() * 1000
    table = table.set_column(1, "ts", pa.array(ts_ns, pa.int64()))
    info = {"dir": out_dir, "files": n_files, "rows": 0, "duplicates": 0, "bytes": 0}
    prev = None
    for f in range(n_files):
        part = table.slice(f * rows_per_file, rows_per_file)
        n_dup = int(rows_per_file * dup_frac) if prev is not None else 0
        if n_dup:
            # re-send the tail of the previous file: same event_id and ts,
            # so the duplicate falls inside the dedup watermark horizon
            part = pa.concat_tables([prev.slice(prev.num_rows - n_dup), part])
        info["bytes"] += _write(part, os.path.join(out_dir, f"events-{f:03d}.parquet"))
        info["rows"] += part.num_rows
        info["duplicates"] += n_dup
        prev = part
    return info
