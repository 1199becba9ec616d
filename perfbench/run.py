#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, ending in one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds graft from source into
$CARGO_TARGET_DIR (default .bench_build) with perfbench/build.sh, starts
one local[4] JVM per measured set-up, runs the workload closed loop with
one client, checks every output outside the timed windows, and prints
{"correct", "attempted", "failed", "metrics"} as the last line of stdout.

--trace 0 reports the end-to-end metrics; --trace 1 installs listeners,
the PlanAudit hook and spans, reports the per-layer metrics and writes
the trace to <build>/traces/. perfbench/where_time_went.py reads it.
Workloads, metrics and sizing are described in perfbench/README.md.

--record-expected writes the observed result of every rows-only face of
the workload into perfbench/expected.json (run it on a commit whose
outputs are known good).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # importing tools/check.py leaves no cache
HERE = os.path.dirname(os.path.abspath(__file__))
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
HEAP = "3g"
# per JVM, so that a whole run stays well inside three minutes
MAIN_TIMEOUT_S = 110
SETUP_TIMEOUT_S = 25
# set-ups measured per run (the first is the measuring JVM's own); the
# reported setup_s is their median
SETUPS = 3

WORKLOADS = {
    "graph_cold": {
        "kind": "faces", "sf": "sf0.01",
        "tables": ["lineitem", "orders", "part"],
        "faces": ["g_pagerank", "g_louvain", "s_pagerank_incr"],
    },
    "statements": {"kind": "statements", "sf": None},
}

END_TO_END = ["setup_s", "cold_pass_s", "warm_pass_s", "retained_mb"]
UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
         "retained_mb": "MB"}

SPARK_COUNTERS = ["jobs", "tasks", "task_busy_s", "core_util",
                  "driver_gap_s", "shuffle_write_mb", "spill_mb", "gc_s",
                  "failed_tasks", "codegen_compiles", "codegen_s",
                  "input_mb"]


def per_layer_names():
    names = [f"spark.{c}.{p}" for c in SPARK_COUNTERS for p in ("cold", "warm")]
    names += ["tables.load_ms", "ops.fail_ratio", "ops.p50_ms", "ops.tail_ms",
              "ops.tail_n",
              "queries.view_build_s", "queries.pinned_rdds", "queries.pinned_mb"]
    for w in WORKLOADS.values():
        for f in w.get("faces", []):
            names += [f"queries.{f}.cold_s", f"queries.{f}.warm_s"]
    names += ["graph.loop_rounds", "graph.round_ms_p50",
              "graph.exchanges_per_round",
              "streaming.triggers", "streaming.trigger_ms_p50",
              "streaming.rows_per_trigger",
              "lang.parse_ms_p50", "lang.insert_node_ms_p50",
              "lang.insert_edge_jobs", "lang.label_plan_nodes",
              "lang.stmt_per_s", "lang.insert_edge_p50_ms",
              "lang.insert_edge_tail_ms", "lang.insert_edge_tail_n",
              "lang.update_p50_ms", "lang.match_p50_ms",
              "store.wal_append_ms_p50", "store.wal_bytes_per_stmt",
              "store.compact_s", "store.snapshot_mb",
              "store.boot_replayed_stmts", "store.replay_read_ms",
              "store.boot_s"]
    return names


def per_layer_unit(name):
    base = name.rsplit(".", 1)[0] if name.endswith((".cold", ".warm")) else name
    if base.endswith("per_s"):
        return "1/s"
    if base.endswith("_s"):
        return "s"
    if base.endswith("_ms") or "_ms_" in base:
        return "ms"
    if base.endswith("_mb") or "_mb_" in base:
        return "MB"
    if base.endswith(("ratio", "core_util")):
        return "ratio"
    return "count"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if not exe:
            die("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die(f"no Spark jars under {home}")
    return jars


def java_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def run_jvm(build, jars, work, tag, jvm_args, timeout):
    """One benchmark JVM; returns its JSON record."""
    out = os.path.join(work, f"{tag}.json")
    tmp = os.path.join(work, f"{tag}-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(work, f"{tag}-scratch"))
    os.makedirs(env["GRAFT_SCRATCH"], exist_ok=True)
    cmd = (["java"] + java_opens() +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([os.path.join(build, "bench"),
                                    os.path.join(build, "classes"),
                                    os.path.join(jars, "*")]),
            "graftbench.Main", "--out", out, "--work", os.path.join(work, tag),
            "--t0", str(int(time.time() * 1000))] + jvm_args)
    t0 = time.time()
    errf = open(os.path.join(work, f"{tag}.stderr"), "w")
    proc = subprocess.Popen(cmd, stdout=errf, stderr=errf, env=env,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = "timeout"
    errf.close()
    log(f"perfbench: JVM {tag} took {time.time() - t0:.1f} s")
    if rc != 0 or not os.path.exists(out):
        with open(errf.name) as f:
            log(f.read()[-4000:])
        die(f"benchmark JVM {tag} failed ({rc})")
    with open(out) as f:
        return json.load(f)


def build(root):
    bdir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    bdir = os.path.join(root, bdir)
    os.makedirs(bdir, exist_ok=True)
    jars = spark_jars()
    r = subprocess.run(["bash", os.path.join("perfbench", "build.sh"), bdir, jars],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("build failed")
    return bdir, jars


def tail(xs):
    """Highest percentile with at least ten samples beyond it; the maximum
    when there are ten samples or fewer."""
    s = sorted(xs)
    return s[-11] if len(s) > 10 else s[-1]


# ------------------------------------------------------------ checks

def oracle_results(bdir, sf_dir, oracles):
    """{face: (rows, sorted cols, hash)} of DuckDB on the oracle SQL,
    cached per (sf, sql) in the build dir since both are fixed."""
    from check import canon, TABLES
    import duckdb
    path = os.path.join(bdir, "oracle_cache.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    out, con = {}, None
    for face, sql in oracles.items():
        key = hashlib.sha256(f"{sf_dir}\n{sql}".encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            rel = con.sql(sql)
            if any(str(t) in ("HUGEINT", "UHUGEINT") for t in rel.types):
                cache[key] = None  # check.py refuses such oracles
            else:
                cols, rows = rel.columns, rel.fetchall()
                cache[key] = [len(rows), sorted(cols), canon(rows, cols)]
        out[face] = cache[key]
    with open(path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(path + ".tmp", path)
    return out


def spark_result(results_dir, face):
    from check import canon
    import duckdb
    files = sorted(os.path.join(results_dir, face, f)
                   for f in os.listdir(os.path.join(results_dir, face))
                   if f.endswith(".parquet"))
    rel = duckdb.sql(f"SELECT * FROM read_parquet({files!r})")
    cols, rows = rel.columns, rel.fetchall()
    return [len(rows), sorted(cols), canon(rows, cols)]


def check_faces(bdir, sf_dir, sf, rec, record):
    """Mark every op of a face whose cold result disagrees with its oracle
    (or its recorded result) as failed."""
    sys.path.insert(0, "tools")  # check.py holds the repo's gate rules
    with open(os.path.join(rec["results_dir"], "oracle_sql.json")) as f:
        oracles = json.load(f)
    want = oracle_results(bdir, sf_dir, oracles)
    exp_path = os.path.join(HERE, "expected.json")
    expected = json.load(open(exp_path)) if os.path.exists(exp_path) else {}
    for face in rec["order"]:
        if not os.path.isdir(os.path.join(rec["results_dir"], face)):
            continue  # the cold op itself failed and is counted already
        got = spark_result(rec["results_dir"], face)
        if face in oracles:
            exp, src = want[face], "oracle"
        else:
            if record:
                expected.setdefault(sf, {})[face] = got
            exp, src = expected.get(sf, {}).get(face), "recorded result"
        if exp is None:
            why = f"no valid {src}"
        elif got[1] != exp[1]:
            why = f"columns {got[1]} != {src} {exp[1]}"
        elif got[0] != exp[0]:
            why = f"rows {got[0]} != {src} {exp[0]}"
        elif got[2] != exp[2]:
            why = f"value hash differs from {src}"
        else:
            continue
        for o in rec["ops"]:
            if o["name"] == face and o["ok"]:
                o["ok"], o["err"] = False, why
    if record:
        with open(exp_path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")


# ----------------------------------------------------------- metrics

def end_to_end(rec, setups):
    walls = rec["pass_wall_s"]
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": walls[0],
        "warm_pass_s": statistics.median(walls[1:]),
        "retained_mb": rec["retained_mb"],
    }


def per_layer(rec):
    m = {n: 0.0 for n in per_layer_names()}
    m.update({k: v for k, v in rec.get("layers", {}).items() if k in m})
    ops = rec["ops"]
    warm_ms = [o["ms"] for o in ops if o["pass"] > 0]
    m["ops.fail_ratio"] = sum(not o["ok"] for o in ops) / len(ops)
    m["ops.p50_ms"] = statistics.median(warm_ms)
    m["ops.tail_ms"] = tail(warm_ms)
    m["ops.tail_n"] = float(len(warm_ms))
    m["tables.load_ms"] = sum(s["wall_s"] for s in rec.get("spans", [])
                              if s["kind"] == "tables.load") * 1000
    return m


NOT_MEASURED = {
    "CommitLog.append inside Interpreter.executeLogged":
        "the call happens inside the method; store.wal_append_ms_p50 times "
        "the same lines appended to a scratch log instead",
    "the build time of each pinned view":
        "a view is built inside the first face that needs it; "
        "queries.<face>.cold_s - warm_s stands in for it",
}


def overhead(bdir, workload, traced):
    """Traced end-to-end values minus the median of the untraced runs of
    this workload recorded in <build>/results; None before any exists."""
    res = os.path.join(bdir, "results")
    runs = []
    for f in sorted(os.listdir(res)):
        if f.startswith(workload + "-seed"):
            with open(os.path.join(res, f)) as fh:
                runs.append(json.load(fh)["end_to_end"])
    if not runs:
        return None
    return {"untraced_runs": len(runs),
            "delta": {k: v - statistics.median(r[k] for r in runs)
                      for k, v in traced.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir("src/main/scala") and os.path.isdir("tools")):
        die("run from the root of a graft checkout (src/main/scala not found)")
    w = WORKLOADS[args.workload]
    sf_dir = os.path.join(TESTDATA, w["sf"]) if w["sf"] else None
    if sf_dir and not os.path.isdir(sf_dir):
        die(f"input tables not found: {sf_dir}")
    bdir, jars = build(root)
    os.makedirs(os.path.join(bdir, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(bdir, "tmp"))
    try:
        jvm_args = ["--workload", w["kind"], "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if sf_dir:
            jvm_args += ["--sf", sf_dir, "--faces", ",".join(w["faces"]),
                         "--tables", ",".join(w["tables"])]
        rec = run_jvm(bdir, jars, work, "run", jvm_args, MAIN_TIMEOUT_S)
        setups = [rec["setup_s"]]
        for i in range(1, SETUPS):
            setups.append(run_jvm(bdir, jars, work, f"setup{i}",
                                  jvm_args + ["--setup-only", "1"],
                                  SETUP_TIMEOUT_S)["setup_s"])
        if w["kind"] == "faces":
            check_faces(bdir, sf_dir, w["sf"], rec, args.record_expected)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec["ops"]
    failed = sum(not o["ok"] for o in ops)
    notes = [f"pass {o['pass']} {o['name']}: {o['err']}" for o in ops if not o["ok"]]
    for n in notes:
        log(f"FAILED {n}")
    e2e = end_to_end(rec, setups)
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        layers = per_layer(rec)
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layers.items()}
        os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
        with open(os.path.join(bdir, "traces", stem + ".json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace_id": rec["trace_id"], "end_to_end": e2e,
                       "tracing_overhead": overhead(bdir, args.workload, e2e),
                       "not_measured": NOT_MEASURED,
                       "per_layer": layers, "spans": rec["spans"],
                       "ops": ops, "failures": notes}, f)
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        with open(os.path.join(bdir, "results", stem + ".json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end": e2e, "ops": ops, "failures": notes}, f)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
