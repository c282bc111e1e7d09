#!/usr/bin/env python3
"""graft benchmark: one closed-loop client on local[4], three workloads.

  python3 perfbench/run.py --workload mix_sf01|headline_sf1|table_cycle \
      --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft's
main sources and the benchmark's own Scala runner (plain scalac against
the Spark jars) and generates the inputs; both land in `.bench_build/`
and are reused while the sources and the generator are unchanged.

The seed fixes the operation order of every pass and the contents of
the `table_cycle` operations; the base inputs are fixed (see gendata.py).
The last line of stdout is one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The full record of the run, spans included, is written to
`.bench_build/graftbench/results/<workload>-s<seed>-t<trace>.json`.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "graftbench"
sys.path.insert(0, str(HERE))

import gendata  # noqa: E402

CORES = 4
HEADLINE = ["agg_group_pricing", "topk_orders", "join_multiway_star",
            "win_latest_dedup", "stream_tumbling_1h", "agg_count_distinct",
            "fn_json_pack", "agg_rollup", "vec_cosine_topk", "vec_knn_join",
            "text_wordcount_topk", "text_lang_stats", "text_exact_dedup"]
MIX = HEADLINE + [
    "topk_per_key", "join_range_bucketed", "join_theta_range",
    "join_shuffle_large", "join_interval_events", "report_rfm_segments",
    "report_cohort_ltv", "report_sessionize_batch", "text_minhash_dedup",
    "text_winnow_neardup", "text_tfidf_topterms", "udtf_ngrams_expr",
    "udaf_geomean", "win_running_sum", "agg_percentile", "graph_pagerank",
    "sql_recursive_chain", "vec_ivf_topk", "fn_string_pack"]
WORKLOADS = {
    # name: (dataset, keys or None for the table cycle, passes at least).
    # BENCHMARK.json lists mix_sf01 and table_cycle; the other two are
    # longer runs for claims about data work (headline_sf1) or the full
    # 32-key mix (mix32_sf01); one of their runs takes minutes.
    "mix_sf01": ("sf01", HEADLINE, 3),
    "table_cycle": ("sf01", None, 2),
    "headline_sf1": ("sf1", HEADLINE, 1),
    "mix32_sf01": ("sf01", MIX, 1),
}
COMMIT_DOORS = ["append", "delete_pos", "update_pos", "update_sql",
                "delete_sql", "merge_sql", "maintain", "vacuum",
                "checkpoint", "epoch_upsert"]
READ_DOORS = ["read_head", "read_stats", "read_bloom", "read_asof"]
APPEND_BUCKETS = list(range(16, 40))
MERGE_BUCKETS = list(range(40, 64))
DAY_US = 86_400_000_000
SETUP_REPS = 3
JVM_TIMEOUT_S = 170


def die(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_jars():
    for d in (os.environ.get("SPARK_HOME", ""), "/opt/spark"):
        if d and (Path(d) / "jars").is_dir():
            return Path(d) / "jars"
    die("no Spark distribution found (set SPARK_HOME)")


def source_files():
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        die(f"no graft sources under {ROOT}/src/main/scala")
    bench = sorted((HERE / "scala").rglob("*.scala"))
    return graft, bench


def build():
    """Compile graft and the runner once per source state; return the
    class path."""
    graft, bench = source_files()
    res = sorted((ROOT / "src" / "main" / "resources").rglob("*"))
    h = hashlib.sha256()
    for f in graft + bench + [r for r in res if r.is_file()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / "classes" / h.hexdigest()[:16]
    jars = spark_jars()
    cp = f"{out}:{jars}/*"
    if (out / "READY").exists():
        return cp
    if out.parent.exists():
        shutil.rmtree(out.parent)
    out.mkdir(parents=True)
    for r in res:
        if r.is_file():
            dst = out / r.relative_to(ROOT / "src" / "main" / "resources")
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, dst)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in graft + bench) + "\n")
    print("[graftbench] compiling graft and the runner", file=sys.stderr)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", f"{jars}/*", f"@{argfile}"]
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        die("compilation failed")
    (out / "READY").write_text("ok\n")
    return cp


# ----------------------------------------------------------------- data

def file_digest(path):
    h = hashlib.sha256()
    files = sorted(path.rglob("*.parquet")) if path.is_dir() else [path]
    for f in files:
        h.update(f.read_bytes())
    return h.hexdigest()


def table_rows(path):
    import pyarrow.parquet as pq
    files = sorted(path.rglob("*.parquet")) if path.is_dir() else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def inputs(scale):
    """Generate the inputs once, then check row counts and digests
    against the committed manifest before every run."""
    manifest = json.loads((HERE / "data_manifest.json").read_text())[scale]
    d = BUILD / "data" / scale
    for attempt in range(2):
        if not (d / "READY").exists():
            if d.exists():
                shutil.rmtree(d)
            print(f"[graftbench] generating {scale} inputs", file=sys.stderr)
            gendata.write(str(d), scale)
            (d / "READY").write_text("ok\n")
        bad = [t for t, m in manifest.items()
               if table_rows(d / f"{t}.parquet") != m["rows"]
               or file_digest(d / f"{t}.parquet") != m["sha256"]]
        if not bad:
            return d
        (d / "READY").unlink()
    die(f"{scale} inputs do not match data_manifest.json: {bad}")


# ----------------------------------------------------------------- plan

def table_cycle_ops(rng, c):
    """One cycle: every write door and read path once. Operations on one
    table keep a fixed order, reads first, so each sees the same kind of
    state in every cycle: `maintain` always compacts the one chain dir the
    append added (maxChainDirs = 1), `checkpoint` always covers new
    versions, and `mor`'s reads and DML always follow the previous cycle's
    MERGE. The seed interleaves the chains and picks every operation's
    contents."""
    rems = rng.sample(range(997), 5)
    lo_day = rng.randrange(9131, 11535)   # 1995-01-01 .. 2001-08-01
    chains = [
        [{"door": "read_stats", "lo_us": lo_day * DAY_US,
          "hi_us": (lo_day + 30) * DAY_US - 1},
         {"door": "read_bloom",     # an order of a base bucket: present
          "key": 64 * rng.randrange(2343) + rng.randrange(16)},
         {"door": "read_asof", "back": rng.randint(1, 3)},
         {"door": "append", "bucket": APPEND_BUCKETS[c]},
         {"door": "maintain"},
         {"door": "checkpoint"}],
        [{"door": "read_head"},
         {"door": "delete_pos", "rem": rems[0]},
         {"door": "update_pos", "rem": rems[1]},
         {"door": "update_sql", "rem": rems[2]},
         {"door": "delete_sql", "rem": rems[3]},
         {"door": "merge_sql", "rem": rems[4], "bucket": MERGE_BUCKETS[c]}],
        [{"door": "epoch_upsert", "bucket": 16 + c}],
        [{"door": "vacuum"}],
    ]
    ops = []
    while any(chains):      # uniform random interleaving of the chains
        pick = rng.randrange(sum(len(ch) for ch in chains))
        for ch in chains:
            if pick < len(ch):
                ops.append(ch.pop(0))
                break
            pick -= len(ch)
    for op in ops:
        op["name"] = op["door"]
    return ops


def make_plan(workload, seed):
    rng = random.Random(seed)
    keys = WORKLOADS[workload][1]
    if keys is None:
        cycles = [table_cycle_ops(rng, c) for c in range(len(APPEND_BUCKETS))]
        return cycles[0], cycles[1:]
    order = lambda: [{"key": k, "name": k} for k in rng.sample(keys, len(keys))]
    return order(), [order() for _ in range(64)]


# ------------------------------------------------------------------ run

def proc_stat_steal():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0


def jvm(cp, plan, work, heap_g=4):
    """Run the Scala runner on `plan` in `work`. The heap is fixed (-Xms = -Xmx)
    so that peak RSS does not depend on when the heap chose to grow."""
    mem_kb = int(next(l.split()[1] for l in open("/proc/meminfo")
                      if l.startswith("MemTotal:")))
    heap_g = max(2, min(heap_g, mem_kb // 2 // 1048576))
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    cmd = ["java", f"-Xms{heap_g}g", f"-Xmx{heap_g}g", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    plan_file = work / "plan.json"
    plan_file.write_text(json.dumps(plan))
    cmd += ["-cp", cp, "graftbench.Main", str(plan_file)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(work / "jvm.log", "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"the benchmark JVM ran over {JVM_TIMEOUT_S}s; see {work}/jvm.log")
    finally:
        log.close()
    if rc != 0:
        tail = (work / "jvm.log").read_text()[-3000:]
        die(f"the benchmark JVM exited with {rc}:\n{tail}")


def pct_tail(xs):
    """The highest percentile with at least 10 samples above it, with
    the percentile and the sample count; the maximum when there are 10
    samples or fewer."""
    s = sorted(xs)
    n = len(s)
    k = n - 10 if n > 10 else n
    return s[k - 1], round(100.0 * k / n, 1), n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarise(workload, recs, checks):
    ops = [r for r in recs if r["type"] == "op"]
    untraced = [r for r in ops if not r["traced"]]
    traced = [r for r in ops if r["traced"]]
    passes = [r for r in recs if r["type"] == "pass"]
    setup = next(r for r in recs if r["type"] == "setup")
    final = next(r for r in recs if r["type"] == "final")
    failed = {r["id"] for r in ops if not r.get("ok")} | checks["failed"]

    def e2e(sample):
        walls = [r["wall_s"] for r in sample]
        per_op = {}
        for r in sample:
            per_op.setdefault(r["name"], []).append(r["wall_s"])
        tail, tail_pct, n = pct_tail(walls)
        return {
            "pass_s": median([p["wall_s"] for p in passes
                              if p["traced"] == (sample is traced)]),
            "op_p50_s": median(walls),
            "op_tail_s": tail,
            "op_tail_pct": tail_pct,
            "op_samples": n,
            "op_geomean_s": math.exp(statistics.fmean(
                math.log(max(median(v), 1e-6)) for v in per_op.values())),
        }

    main = e2e(untraced if untraced else traced)
    out = {"setup_s": setup["setup_s"], **main,
           "peak_rss_mb": final["peak_rss_mb"],
           "failed_ratio": len(failed) / max(1, len(ops))}
    layer = {}
    if traced:
        spans = {r["id"]: r for r in recs if r["type"] == "span"}
        tr = e2e(traced)
        for k in ["pass_s", "op_p50_s", "op_geomean_s"]:
            layer[f"trace.overhead.{k}"] = (tr[k] / main[k] - 1.0
                                           if untraced and main[k] else 0.0)
        sums = {}
        for r in traced:
            s = spans.get(r["id"], {})
            for k, v in s.items():
                if "." in k and isinstance(v, (int, float)):
                    sums[k] = sums.get(k, 0.0) + v
        npass = max(1, len([p for p in passes if p["traced"]]))
        for k, v in sums.items():
            layer[k] = v / npass           # per pass
        layer["ops.build_s"] = sum(r["build_s"] for r in traced) / npass
        busy = layer.get("exec.job_span_s", 0.0) * CORES
        layer["exec.core_busy_ratio"] = (layer.get("exec.task_s", 0.0) / busy
                                         if busy else 0.0)
    layer["jvm.gc_s"] = final["gc_s"]
    layer["jvm.heap_peak_mb"] = final["heap_peak_mb"]
    if workload == "table_cycle":
        layer.update(table_metrics(ops, recs, final, checks))
    return out, layer, failed


def table_metrics(ops, recs, final, checks):
    m = {}
    ok = [r for r in ops if r.get("ok")]
    commits = [r["wall_s"] for r in ok if r["kind"] == "commit"]
    reads = [r["wall_s"] for r in ok if r["kind"] == "read"]
    m["commit_p50_s"] = median(commits)
    m["commit_tail_s"] = pct_tail(commits)[0] if commits else 0.0
    m["read_p50_s"] = median(reads)
    m["read_tail_s"] = pct_tail(reads)[0] if reads else 0.0
    per_row = final["plain_bytes"] / max(1, final["head_rows"])
    written = sum(r.get("written_bytes", 0) for r in ok if r["kind"] == "commit")
    changed = sum(checks["rows_changed"].values())
    m["write_amp"] = written / (changed * per_row) if changed else 0.0
    m["space_amp"] = final["table_bytes"] / max(1, final["plain_bytes"])
    spans = {r["id"]: r for r in recs if r["type"] == "span"}
    for door in COMMIT_DOORS + READ_DOORS:
        rs = [r for r in ok if r["door"] == door]
        pre = f"GraftTable.{door}"
        m[f"{pre}.s"] = median([r["wall_s"] for r in rs])
        m[f"{pre}.jobs"] = median([spans[r["id"]]["exec.jobs"] for r in rs
                                   if r["id"] in spans])
        if door in COMMIT_DOORS:
            m[f"{pre}.written_mb"] = median(
                [r["written_bytes"] / 1048576.0 for r in rs])
            m[f"{pre}.files_written"] = median([r["files_written"] for r in rs])
        else:
            m[f"{pre}.files_read"] = median([r["files_read"] for r in rs])
            m[f"{pre}.files_pruned_ratio"] = median(
                [1.0 - r["files_read"] / r["files_total"] for r in rs
                 if r["files_total"]])
            m[f"{pre}.rows_read_per_row"] = median(
                [spans[r["id"]]["exec.input_rows"] / max(1, r["rows"])
                 for r in rs if r["id"] in spans])
    last = [r for r in recs if r["type"] == "pass"][-1]
    m["GraftTable.versions"] = last["versions"]
    m["GraftTable.live_files"] = last["live_files"]
    m["GraftTable.tombstone_mb"] = last["tombstone_mb"]
    return m


def check(workload, scale, data, recs):
    """Compare every operation's result with the expected one, outside
    the timed spans. Returns failed op ids (and, for the table cycle,
    the rows each door changed)."""
    if workload == "table_cycle":
        import replay
        return replay.check(data, recs)
    expected = json.loads((HERE / "expected" / f"{scale}.json").read_text())
    failed = {r["id"] for r in recs if r["type"] == "op" and r.get("ok")
              and r["digest"] != expected.get(r["key"], {}).get("digest")}
    return {"failed": failed, "rows_changed": {}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    scale, _, min_passes = WORKLOADS[a.workload]
    cp = build()
    data = inputs(scale)
    work = BUILD / "work" / a.workload
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    warmup, passes = make_plan(a.workload, a.seed)
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    rec_file = work / "records.jsonl"
    plan = {"mode": "run", "workload": a.workload, "data": str(data),
            "work": str(work), "cores": CORES, "seconds": a.seconds,
            "min_passes": min_passes, "trace": bool(a.trace),
            "setup_reps": SETUP_REPS, "warmup": warmup, "passes": passes,
            "out": str(rec_file)}
    steal0 = proc_stat_steal()
    jvm(cp, plan, work, heap_g=7 if scale == "sf1" else 4)
    steal = proc_stat_steal() - steal0
    recs = [json.loads(l) for l in rec_file.read_text().splitlines()]
    checks = check(a.workload, scale, data, recs)
    e2e, layer, failed = summarise(a.workload, recs, checks)
    layer["host.steal_s"] = steal
    layer["host.cores"] = os.cpu_count()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    chosen = spec["per_layer" if a.trace else "end_to_end"]
    values = {**e2e, **layer}
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in chosen}
    ops = [r for r in recs if r["type"] == "op"]
    result = {"correct": not failed, "attempted": len(ops),
              "failed": len(failed), "metrics": metrics}
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": CORES, "host_cores": os.cpu_count(),
              "host_steal_s": steal, "end_to_end": e2e, "per_layer": layer,
              "failed_ids": sorted(failed), "result": result,
              "records": recs, "time": time.time()}
    (results / f"{a.workload}-s{a.seed}-t{a.trace}.json").write_text(
        json.dumps(detail))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
