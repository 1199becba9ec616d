#!/usr/bin/env python3
"""Where the time went, from one traced run of the benchmark.

    python3 perfbench/where_time_went.py TRACE.json [TRACE.json ...]

A trace is what `run.py --trace 1` writes to <build>/traces/. For each
workload this prints every layer's self time (a span's wall time minus
the time its child spans cover) with the Spark counters attributed to
it, then the per-layer metrics, then the tracing overhead run.py
recorded (the traced run's end-to-end values minus the median of the
untraced runs of the same workload made before it), then what cannot be
measured from outside the program.
"""
import collections
import json
import sys

LAYER = {
    "pass": "benchmark: cleanup between operations",
    "face": "queries: SparkEntry.queries face",
    "tables.load": "Tables.load",
    "parse": "lang: Parser.parse",
    "ddl": "lang: Interpreter.executeLogged",
    "insert_node": "lang: Interpreter.executeLogged",
    "insert_edge_prop": "lang: Interpreter.executeLogged",
    "insert_edge_id": "lang: Interpreter.executeLogged",
    "update": "lang: Interpreter.executeLogged",
    "match": "lang: Interpreter.executeLogged",
    "compact": "lang: Interpreter.compact",
    "boot": "lang: Interpreter.bootFrom",
    "commitlog.append": "store: CommitLog.append",
    "commitlog.replay": "store: CommitLog.replay",
}
COUNTERS = ["jobs", "tasks", "task_busy_s", "shuffle_write_mb", "gc_s",
            "codegen_compiles", "codegen_s"]
# read over a span's whole window, children included; the Spark listener
# counters are attributed to the innermost span only
INCLUSIVE = {"gc_s", "codegen_compiles", "codegen_s"}


def self_times(spans):
    child = collections.defaultdict(lambda: collections.defaultdict(float))
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]]["wall_s"] += s["wall_s"]
            for c in INCLUSIVE:
                child[s["parent"]][c] += s["counters"].get(c, 0.0)
    rows = collections.defaultdict(lambda: collections.defaultdict(float))
    for s in spans:
        r = rows[LAYER.get(s["kind"], s["kind"])]
        r["self_s"] += s["wall_s"] - child[s["id"]]["wall_s"]
        r["spans"] += 1
        for c in COUNTERS:
            r[c] += s["counters"].get(c, 0.0) - child[s["id"]][c]
    return rows


def report(path):
    with open(path) as f:
        t = json.load(f)
    print(f"== {t['workload']} (seed {t['seed']}, trace {t['trace_id']})")
    rows = self_times(t["spans"])
    print(f"{'layer':42s} {'self_s':>8s} {'spans':>6s} " +
          " ".join(f"{c:>16s}" for c in COUNTERS))
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:42s} {r['self_s']:8.3f} {int(r['spans']):6d} " +
              " ".join(f"{r[c]:16.3f}" for c in COUNTERS))
    print("per-layer metrics (0 = layer not reached by this workload):")
    for k, v in t["per_layer"].items():
        if v:
            print(f"  {k:40s} {v:14.4f}")
    o = t["tracing_overhead"]
    if o:
        print(f"tracing overhead (traced - median of {o['untraced_runs']} untraced runs):")
        for k, v in o["delta"].items():
            print(f"  {k:14s} traced {t['end_to_end'][k]:12.4f}  overhead {v:+12.4f}")
    else:
        print("tracing overhead: no untraced run of this workload was recorded first")
    for what, why in t["not_measured"].items():
        print(f"not measured from outside: {what}: {why}")
    if t["failures"]:
        print("failures:", *t["failures"], sep="\n  ")
    print()


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for p in sys.argv[1:]:
        report(p)
