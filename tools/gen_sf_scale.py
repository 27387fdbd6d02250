"""Synthesize a k×-scaled copy of an sf directory (round 9, verdict
item 5: one REAL 10× data rung for the headline tier — sf0.1 → sf1).

Never touches /root/testdata: reads the source sf dir, writes the
scaled tables to a target dir. Scaling is designed to be REALISTIC,
not rigged:

- fixed dims (region, nation) are copied verbatim — exactly TPC-H;
- scalable tables (customer, supplier, part, orders, lineitem, events)
  are replicated with DISJOINT key spaces per copy (custkey/orderkey/
  partkey/suppkey/user_id/event_id offsets), preserving every value
  distribution and fan-out while growing joins/aggregations k×;
  timestamps are kept, so per-day volume grows k× (a scale-up, not a
  longer history);
- documents uses the SPLICE method validated by the round-5 scale
  probe (see SCALE.md): copy c>0 of doc i keeps (lang, source) but
  takes the first half of doc i's tokens + the second half of doc (i+c mod N)'s
  tokens — the global vocabulary is preserved, every token's corpus
  frequency scales ×k (the exact stress shared-vocab posting lists
  must survive), and spliced copies are only ~1/3-similar to their
  parents so near-dup structure is not quadratically rigged;
- embeddings adds small deterministic Gaussian noise per copy (seeded
  by the copy index), so ANN bucket occupancy grows k× without k exact
  duplicates of every vector.

Usage: python tools/gen_sf_scale.py [--src /root/testdata/sf0.1]
           [--dst /tmp/spark_graft_sfdata/sf1] [--factor 10]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# per-table (column -> per-copy offset); offsets exceed every source
# key range so copy key spaces are disjoint
KEY_OFFSETS = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 100_000,
    },
    "events": {"event_id": 10_000_000, "user_id": 10_000_000},
}
VERBATIM = ("region", "nation")


def _offset_copies(tbl: pa.Table, offsets: dict, factor: int) -> pa.Table:
    parts = [tbl]
    for c in range(1, factor):
        t = tbl
        for col, off in offsets.items():
            i = t.schema.get_field_index(col)
            arr = pc.add(t.column(i), pa.scalar(c * off, t.schema.field(i).type))
            t = t.set_column(i, t.schema.field(i), arr)
        parts.append(t)
    return pa.concat_tables(parts)


def _splice_documents(tbl: pa.Table, factor: int) -> pa.Table:
    texts = tbl.column("text").to_pylist()
    langs = tbl.column("lang").to_pylist()
    sources = tbl.column("source").to_pylist()
    ids = tbl.column("doc_id").to_pylist()
    n = len(texts)
    toks = [t.split(" ") for t in texts]
    out_id, out_text, out_lang, out_src = [], [], [], []
    for c in range(factor):
        for i in range(n):
            if c == 0:
                txt = texts[i]
            else:
                a, b = toks[i], toks[(i + c) % n]
                txt = " ".join(a[: len(a) // 2] + b[len(b) // 2 :])
            out_id.append(ids[i] + c * 1_000_000)
            out_text.append(txt)
            out_lang.append(langs[i])
            out_src.append(sources[i])
    return pa.table(
        {
            "doc_id": pa.array(out_id, pa.int64()),
            "text": pa.array(out_text, pa.string()),
            "lang": pa.array(out_lang, pa.string()),
            "source": pa.array(out_src, pa.string()),
            "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
        }
    )


def _noise_embeddings(tbl: pa.Table, factor: int) -> pa.Table:
    ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
    labels = tbl.column("label")
    vecs = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float32)
    out_ids, out_vecs, out_labels = [ids], [vecs], [labels]
    for c in range(1, factor):
        rng = np.random.default_rng(77 * c + 13)
        noisy = vecs + 0.05 * rng.standard_normal(vecs.shape).astype(np.float32)
        out_ids.append(ids + c * 1_000_000)
        out_vecs.append(noisy)
        out_labels.append(labels)
    return pa.table(
        {
            "vec_id": pa.array(np.concatenate(out_ids), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for arr in out_vecs for v in arr],
                pa.list_(pa.float32()),
            ),
            "label": pa.concat_arrays(
                [chunk for col in out_labels for chunk in col.chunks]
            ),
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/spark_graft_sfdata/sf1")
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        src = os.path.join(args.src, f"{name}.parquet")
        dst = os.path.join(args.dst, f"{name}.parquet")
        tbl = pq.read_table(src)
        if name in VERBATIM:
            out = tbl
        elif name == "documents":
            out = _splice_documents(tbl, args.factor)
        elif name == "embeddings":
            out = _noise_embeddings(tbl, args.factor)
        else:
            out = _offset_copies(tbl, KEY_OFFSETS[name], args.factor)
        pq.write_table(out, dst, row_group_size=262_144)
        print(f"{name}: {tbl.num_rows} -> {out.num_rows} rows")


if __name__ == "__main__":
    main()
