#!/usr/bin/env python3
"""Run the benchmark over many seeds and report each metric's spread.

  python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] \
      [--trace 0] [--label NAME]

Runs `run.py` once per (workload, seed), one run at a time, and writes
`perfbench/steadiness/<label>.json` (every run's result line, host steal
and core count) and `perfbench/steadiness/<label>.md` (per workload and
metric: median, first and third quartile, and the spread (Q3-Q1)/median
next to the metric's bound in BENCHMARK.json). Quartiles are Python's
`statistics.quantiles(values, n=4)`. Two labels made from the same code
can be compared with --compare A B, which checks each metric's second
median against the first within its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "steadiness"
RESULTS = ROOT / ".bench_build" / "graftbench" / "results"


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_all(spec, workloads, seed_list, trace):
    runs = []
    for w in workloads:
        for s in seed_list:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            res = json.loads(line) if p.returncode == 0 else None
            detail = {}
            f = RESULTS / f"{w}-s{s}-t{trace}.json"
            if f.exists():
                d = json.loads(f.read_text())
                detail = {"host_steal_s": d["host_steal_s"],
                          "host_cores": d["host_cores"], "cores": d["cores"]}
            runs.append({"workload": w, "seed": s, "rc": p.returncode,
                         "wall_s": time.time() - t0, "result": res, **detail})
            print(f"{w} seed {s}: rc={p.returncode} "
                  f"{time.time() - t0:.1f}s {line[:160]}", file=sys.stderr)
    return runs


def summarise(spec, runs, trace):
    metrics = spec["per_layer" if trace else "end_to_end"]
    table = {}
    for w in sorted({r["workload"] for r in runs}):
        ok = [r for r in runs if r["workload"] == w and r["result"]]
        rows = {}
        for m in metrics:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            rows[m["name"]] = {
                "unit": m["unit"], "n": len(vals), "median": med,
                "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None,
                "bound": m.get("bound")}
        table[w] = {"runs": len(ok),
                    "failed_runs": len([r for r in runs
                                        if r["workload"] == w and not r["result"]]),
                    "failed_ops": sum(r["result"]["failed"] for r in ok),
                    "steal_s": [r.get("host_steal_s") for r in ok],
                    "cores": sorted({r.get("host_cores") for r in ok}),
                    "metrics": rows}
    return table


def markdown(label, table):
    out = [f"# Steadiness: {label}", ""]
    for w, t in table.items():
        steal = ", ".join(f"{s:.1f}" for s in t["steal_s"] if s is not None)
        out += [f"## {w}", "",
                f"{t['runs']} runs ({t['failed_runs']} without a result), "
                f"{t['failed_ops']} failed operations; host cores "
                f"{t['cores']}; CPU steal per run (s): {steal}.", "",
                "| metric | unit | median | Q1 | Q3 | spread | bound |",
                "| --- | --- | --- | --- | --- | --- | --- |"]
        for name, m in t["metrics"].items():
            spread = "-" if m["spread"] is None else f"{m['spread']:.3f}"
            bound = "-" if m["bound"] is None else f"{m['bound']}"
            out.append(f"| {name} | {m['unit']} | {m['median']:.4g} | "
                       f"{m['q1']:.4g} | {m['q3']:.4g} | {spread} | {bound} |")
        out.append("")
    return "\n".join(out)


def compare(a, b):
    ta = json.loads((OUT / f"{a}.json").read_text())["table"]
    tb = json.loads((OUT / f"{b}.json").read_text())["table"]
    bad = 0
    for w in sorted(set(ta) & set(tb)):
        for name, ma in ta[w]["metrics"].items():
            mb = tb[w]["metrics"].get(name)
            if not mb or ma["bound"] is None:
                continue
            drift = mb["median"] / ma["median"] - 1.0
            ok = drift <= ma["bound"]
            bad += not ok
            print(f"{w:<14}{name:<16}{ma['median']:>10.4g}{mb['median']:>10.4g}"
                  f"{drift:>+9.3f}  bound {ma['bound']}  "
                  f"{'ok' if ok else 'WORSE'}")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--label", default="report")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    if a.compare:
        compare(*a.compare)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in spec["workloads"]])
    runs = run_all(spec, workloads, seeds(a.seeds), a.trace)
    table = summarise(spec, runs, a.trace)
    OUT.mkdir(exist_ok=True)
    (OUT / f"{a.label}.json").write_text(
        json.dumps({"label": a.label, "trace": a.trace, "runs": runs,
                    "table": table}, indent=1) + "\n")
    (OUT / f"{a.label}.md").write_text(markdown(a.label, table) + "\n")
    print(markdown(a.label, table))


if __name__ == "__main__":
    main()
