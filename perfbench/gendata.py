#!/usr/bin/env python3
"""Deterministic input generator for the benchmark.

Writes the ten tables graft's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`) as parquet,
in the shape of graft's sf0.1 test data: same column names, physical
types, value domains and row counts. The data seed is fixed (42), so two
runs of this script write the same rows; `run.py` checks row counts and a
content digest of every table before each benchmark run.

  sf0.1: one parquet file per table (lineitem ~600k rows, ~19 MB).
  sf1:   a 10x copy of sf0.1 built with Sf1Spike's key-shift
         amplification: every join key k becomes k*10+rep, so per-key
         fan-out and group sizes are those of sf0.1. Each big table is a
         directory of 8 files so a 4-core scan splits.

Usage: python3 perfbench/gendata.py <out_dir> sf01|sf1
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
AMP = 10
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ADJ = "blue cold hot large old red small".split()
NOUN = "anvil bolt gear plate ring rod widget bracket spring valve".split()


def _days(s):
    return np.datetime64(s, "D").astype(np.int64)


def _ts_from_days(days):
    return pa.array(days.astype(np.int64) * 86_400_000_000,
                    type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def sf01_tables():
    rng = np.random.default_rng(DATA_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = 15_000
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = 1_000
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = 20_000
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), npart),
                       rng.integers(0, len(NOUN), npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    no = 150_000
    odays = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, no)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_from_days(odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    # TPC-H shape: order k has 1..7 lines numbered 1..n, so
    # (l_orderkey, l_linenumber) is unique; ~600k lines in all
    nlines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no, dtype=np.int64), nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    lnum = np.arange(len(lok)) - starts + 1
    nl = len(lok)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.clip(odays[lok] + rng.integers(1, 122, nl),
                   None, _days("2001-11-04"))
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts_from_days(ship)})
    ne = 100_000
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, span, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 5_000
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.02:      # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:    # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), n)))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv, dim = 2_000, 64
    labels = rng.integers(0, 10, nv)
    centres = rng.normal(0, 1, (10, dim))
    vecs = centres[labels] * 0.6 + rng.normal(0, 1, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


AMP_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def amplify(name, table):
    keys = AMP_KEYS.get(name)
    if not keys:
        return table
    n = table.num_rows
    rep = np.repeat(np.arange(AMP, dtype=np.int64), n)
    idx = np.tile(np.arange(n), AMP)
    out = table.take(pa.array(idx))
    for k in keys:
        i = out.schema.get_field_index(k)
        shifted = out.column(k).to_numpy() * AMP + rep
        out = out.set_column(i, k, pa.array(shifted, pa.int64()))
    return out


def write(out_dir, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in sf01_tables().items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if scale == "sf01":
            pq.write_table(table, path)
            continue
        table = amplify(name, table)
        if name not in AMP_KEYS:
            pq.write_table(table, path)
            continue
        os.makedirs(path, exist_ok=True)
        parts = 8
        step = -(-table.num_rows // parts)
        for p in range(parts):
            pq.write_table(table.slice(p * step, step),
                           os.path.join(path, f"part-{p:02d}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[2] not in ("sf01", "sf1"):
        sys.exit(__doc__)
    write(sys.argv[1], sys.argv[2])
