#!/usr/bin/env python3
"""Compare two traced runs per workload, per operation and per layer.

  python3 perfbench/layer_diff.py BEFORE AFTER [--json]

BEFORE and AFTER are result files written by `run.py --trace 1`
(`.bench_build/graftbench/results/<workload>-s<seed>-t1.json`) or
directories of them; workloads present on both sides are compared.

In the closed loop every step of an operation blocks the next, so its
wall time splits into the self time of three layers:
  exec    the union of its Spark job spans,
  plans   its query-planning phases (analysis, optimization, physical),
  driver  the rest: query build, commit bookkeeping and gaps between jobs.
For each operation the tool prints the median of each side and the change
in wall time and in each layer's self time, then the counters (jobs,
tasks, task time, shuffle, input). A saving claimed for one layer should
show up in that layer's column, and the others should stay flat.
"""
import json
import statistics
import sys
from pathlib import Path

COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
            "exec.task_cpu_s", "exec.shuffle_write_mb", "exec.input_mb",
            "exec.input_rows", "plans.qe"]


def load(path):
    path = Path(path)
    files = sorted(path.glob("*-t1.json")) if path.is_dir() else [path]
    runs = {}
    for f in files:
        d = json.loads(f.read_text())
        runs.setdefault(d["workload"], []).append(d)
    return runs


def per_op(runs):
    """op name -> layer -> list of samples, over every traced op."""
    out = {}
    for d in runs:
        spans = {r["id"]: r for r in d["records"] if r["type"] == "span"}
        for r in d["records"]:
            s = spans.get(r.get("id")) if r["type"] == "op" else None
            if s is None or not r.get("ok"):
                continue
            plans = (s["plans.analysis_s"] + s["plans.optimize_s"]
                     + s["plans.physical_s"])
            exec_s = s["exec.job_span_s"]
            row = {"wall": r["wall_s"], "exec": exec_s, "plans": plans,
                   "driver": max(0.0, r["wall_s"] - exec_s - plans)}
            row.update({k: s[k] for k in COUNTERS})
            o = out.setdefault(r["name"], {})
            for k, v in row.items():
                o.setdefault(k, []).append(v)
    return {op: {k: statistics.median(v) for k, v in layers.items()}
            for op, layers in out.items()}


def compare(a, b):
    ops = sorted(set(a) & set(b))
    rows = []
    for op in ops:
        row = {"op": op}
        for k in ["wall", "exec", "plans", "driver"] + COUNTERS:
            row[k] = (a[op][k], b[op][k], b[op][k] - a[op][k])
        rows.append(row)
    total = {"op": "TOTAL"}
    for k in ["wall", "exec", "plans", "driver"] + COUNTERS:
        x = sum(r[k][0] for r in rows)
        y = sum(r[k][1] for r in rows)
        total[k] = (x, y, y - x)
    return rows + [total]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    before, after = load(args[0]), load(args[1])
    report = {w: compare(per_op(before[w]), per_op(after[w]))
              for w in sorted(set(before) & set(after))}
    if "--json" in sys.argv:
        print(json.dumps(report, indent=1))
        return
    for w, rows in report.items():
        print(f"== {w}: median per operation, BEFORE -> AFTER (delta)")
        print(f"{'op':<24}{'wall s':>22}{'exec self':>12}{'plans self':>12}"
              f"{'driver self':>13}{'jobs':>14}{'task s':>16}")
        for r in rows:
            w0, w1, dw = r["wall"]
            print(f"{r['op']:<24}{w0:>8.3f} -> {w1:6.3f}{dw:+7.3f}"
                  f"{r['exec'][2]:+12.3f}{r['plans'][2]:+12.3f}"
                  f"{r['driver'][2]:+13.3f}"
                  f"{r['exec.jobs'][0]:>6.0f}->{r['exec.jobs'][1]:<5.0f}"
                  f"{r['exec.task_s'][0]:>8.2f}->{r['exec.task_s'][1]:<6.2f}")
        print()


if __name__ == "__main__":
    main()
