#!/usr/bin/env python3
"""Regenerate the committed reference files of the benchmark.

  python3 perfbench/make_expected.py

1. Generates both input scales and records each table's row count and
   sha256 in `perfbench/data_manifest.json` (run.py refuses inputs that
   differ from it).
2. Asks the runner for each key's DuckDB `oracleSql` (the text graft's
   correctness gate uses) and writes the digest of DuckDB's result on the
   same inputs to `perfbench/expected/<scale>.json`. A key whose oracle
   and graft disagree fails in every run until one of them is fixed.
   Keys without an oracle (`text_minhash_dedup`, `graph_pagerank`) keep
   the entry already in the file, taken from graft's own result and
   marked `"source": "graft (no oracleSql)"`: a regression check only.

Run it only when the generator or the key set changes; never to make a
failing key pass.
"""
import json
import shutil
import sys

import duckdb

import canon
import gendata
import run


def main():
    manifest = {}
    for scale in ("sf01", "sf1"):
        d = run.BUILD / "data" / scale
        if d.exists():
            shutil.rmtree(d)
        gendata.write(str(d), scale)
        (d / "READY").write_text("ok\n")
        manifest[scale] = {
            t: {"rows": run.table_rows(d / f"{t}.parquet"),
                "sha256": run.file_digest(d / f"{t}.parquet")}
            for t in sorted(p.name[:-8] for p in d.glob("*.parquet"))}
    (run.HERE / "data_manifest.json").write_text(
        json.dumps(manifest, indent=1, sort_keys=True) + "\n")

    cp = run.build()
    work = run.BUILD / "work" / "oracle"
    work.mkdir(parents=True, exist_ok=True)
    out = work / "oracle.json"
    run.jvm(cp, {"mode": "oracle", "keys": run.MIX, "out": str(out)}, work)
    oracle = json.loads(out.read_text())

    for scale, keys in (("sf01", run.MIX), ("sf1", run.HEADLINE)):
        d = run.BUILD / "data" / scale
        con = duckdb.connect()
        for p in sorted(d.glob("*.parquet")):
            src = f"{p}/*.parquet" if p.is_dir() else str(p)
            con.execute(f"CREATE VIEW {p.name[:-8]} AS "
                        f"SELECT * FROM read_parquet('{src}')")
        path = run.HERE / "expected" / f"{scale}.json"
        old = json.loads(path.read_text()) if path.exists() else {}
        expected = {k: v for k, v in old.items()
                    if v.get("source", "").startswith("graft")}
        for k in keys:
            if k not in oracle:
                print(f"{scale} {k}: no oracleSql", file=sys.stderr)
                continue
            rows = con.execute(oracle[k]).fetchall()
            names = [c[0] for c in con.description]
            expected[k] = {"rows": len(rows),
                           "digest": canon.digest(names, rows),
                           "source": "duckdb oracleSql"}
            print(f"{scale} {k}: {len(rows)} rows", file=sys.stderr)
        path.write_text(
            json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
