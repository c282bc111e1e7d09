#!/usr/bin/env python3
"""List the SparkEntry keys whose `.count()` plan reads fewer columns than
their result needs, so `graft.Bench` (which times `.count()`) does not run
their whole plan.

  python3 perfbench/count_prune.py > perfbench/COUNT_PRUNING.md

For each key the runner builds the frame on the sf0.1 inputs and compares
the columns every file scan of the full plan reads with those of the plan
of `frame.count()` (`Dataset.count` plans `groupBy().count()`). Scans
inside subquery expressions are not counted.
"""
import json

import run


def main():
    cp = run.build()
    data = run.inputs("sf01")
    work = run.BUILD / "work" / "countprune"
    work.mkdir(parents=True, exist_ok=True)
    out = work / "countprune.jsonl"
    run.JVM_TIMEOUT_S = 3600
    run.jvm(cp, {"mode": "countprune", "data": str(data), "work": str(work),
                 "cores": run.CORES, "out": str(out)}, work)
    recs = [json.loads(l) for l in out.read_text().splitlines()]
    pruned, errors = [], []
    for r in recs:
        if "error" in r:
            errors.append(r["key"])
            continue
        ncols = lambda scans: sum(len([c for c in s.split(":", 1)[1].split(",")
                                       if c]) for s in scans)
        full, cnt = ncols(r["full"]), ncols(r["count"])
        if cnt < full:
            pruned.append((r["key"], full, cnt, len(r["full"]), len(r["count"])))
    print("# Keys whose `.count()` plan reads less than their result\n")
    print("`graft.Bench` times `.count()` on each key's frame. Catalyst plans "
          "`count()` as `groupBy().count()` and prunes every column the count "
          "does not need, so for the keys below `graft.Bench` does not "
          "run the whole plan and its number cannot back a claim about them. "
          "Generated by `perfbench/count_prune.py` on the benchmark's sf0.1 "
          f"inputs: {len(pruned)} of {len(recs)} keys. Scans inside subquery "
          "expressions are not counted.\n")
    print("| key | columns scanned for the result | for `.count()` | "
          "scans (result / count) |")
    print("| --- | --- | --- | --- |")
    for k, f, c, sf, sc in pruned:
        print(f"| `{k}` | {f} | {c} | {sf} / {sc} |")
    if errors:
        print(f"\nNot planned (the frame's build threw on these inputs): "
              + ", ".join(f"`{k}`" for k in errors))


if __name__ == "__main__":
    main()
