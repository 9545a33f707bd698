#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client driving the engine's public
functions in one local Spark JVM, timed from outside the program.

    python3 perfbench/run.py --workload etl_reports --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM side from source with scalac (into $CARGO_TARGET_DIR, or
.bench_build/); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from --seed under a fresh temp
root in .bench_runs/, runs the workload, checks the outputs, prints every
metric by name with its unit, and prints one JSON result as the last line
of stdout. `--trace 1` reports the per-layer metrics instead of the
end-to-end ones and keeps the span trace in .bench_runs/last/.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen_inputs  # noqa: E402
import stats  # noqa: E402

CORES = len(os.sched_getaffinity(0))  # local[nproc], shuffle partitions = nproc
HEAP = "3g"
DEFAULT_SEED = 1
HELD_OUT_SEED = 7919
DEADLINE_S = 170  # from the start of run.py to the end of its last JVM
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Input scale and tables per workload (gen_inputs.py's sf). `twin`: a
# traced run also runs the workload untraced, in a JVM of its own, and the
# trace overhead is traced minus untraced; without it, the traced run
# alternates tracing over repeated ops and pairs them.
WORKLOADS = {
    "etl_reports": {"sf": 0.01, "tables": gen_inputs.ALL_TABLES, "twin": False},
    "ingest_day2": {"sf": 0.02, "tables": ("documents",), "twin": True},
}

# Oracle-dark queries: checked for schema and row count only.
SHAPE_ORACLES = {
    "q60_hll_users": (["distinct_est", "event_type", "n_days", "n_events"],
                      "SELECT count(DISTINCT event_type) FROM events "
                      "WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'"),
}

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "wall_s": "s", "op_p50_s": "s",
              "peak_rss_mb": "MB"}
ADDITIVE = ["SparkEntry.closure_s", "SparkEntry.closure_jobs", "plans.plan_s",
            "operators.exec_s", "operators.jobs", "operators.stages", "operators.tasks",
            "operators.driver_only_s", "operators.task_s", "operators.task_cpu_s",
            "operators.gc_s", "operators.spill_mb", "operators.shuffle_read_mb",
            "operators.shuffle_write_mb", "Perf.persisted_rdds", "Perf.storage_mem_mb",
            "sources.input_mb", "sources.output_mb", "sources.files_written",
            "streaming.add_batch_s", "streaming.query_planning_s",
            "streaming.wal_commit_s", "streaming.trigger_s"]
PER_LAYER_UNITS = {
    "GraftSession.start_s": "s", "SparkEntry.closure_s": "s",
    "SparkEntry.closure_jobs": "count", "plans.plan_s": "s", "operators.exec_s": "s",
    "operators.jobs": "count", "operators.stages": "count", "operators.tasks": "count",
    "operators.driver_only_s": "s", "operators.task_s": "s", "operators.task_cpu_s": "s",
    "operators.parallel_eff": "ratio", "operators.useful_task_ratio": "ratio",
    "operators.gc_s": "s", "operators.spill_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB", "operators.peak_exec_mem_mb": "MB",
    "Perf.persisted_rdds": "count", "Perf.storage_mem_mb": "MB", "sources.input_mb": "MB",
    "sources.scan_records_per_batch_record": "ratio", "sources.output_mb": "MB",
    "sources.files_written": "count", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.trigger_s": "s", "Pipeline.front_s": "s", "Pipeline.persist_s": "s",
    "Pipeline.load_s": "s", "Maintain.tick_s": "s", "Maintain.healed": "count",
    "self.bench_s": "s", "self.SparkEntry_s": "s", "self.plans_s": "s",
    "self.operators_s": "s", "trace.overhead_wall_s": "s", "trace.overhead_op_p50_s": "s",
}

# Printed and kept in the trace file but not in the result: a layer only
# one workload exercises (its metric is 0 on the other), spill (0 at these
# input sizes) and task GC time (0 on etl_reports' small tasks). Result
# values must be measured on every workload.
PRINT_ONLY = {"SparkEntry.closure_s", "SparkEntry.closure_jobs", "self.SparkEntry_s",
              "streaming.add_batch_s", "streaming.query_planning_s",
              "streaming.wal_commit_s", "streaming.trigger_s", "Pipeline.front_s",
              "Pipeline.persist_s", "Pipeline.load_s", "Maintain.tick_s",
              "Maintain.healed", "sources.scan_records_per_batch_record",
              "sources.output_mb", "sources.files_written", "operators.spill_mb",
              "operators.gc_s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The jar directory the sbt build compiles against (build.sbt's
    unmanagedBase); its Spark jars include scalac."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def build():
    """Compile the engine and the benchmark's JVM side with scalac; reuse
    the classes while the sources are unchanged. Returns the classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no engine sources at {main_src}: run from the root of a graft checkout")
    jars = spark_jars()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.perf_counter()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", f"{jars}/*"] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(key)
    print(f"built {len(srcs)} sources in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return cp


# ------------------------------------------------------------------ run

def launch(cp, jvm_root, args_kv, log):
    """Start the harness JVM and a thread that times its READY line;
    returns (process, thread, {"s": seconds from launch to READY})."""
    # one fixed heap size for every run, so runs compare like for like;
    # not pre-touched, so peak RSS follows the heap pages the run touches
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={jvm_root}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Harness"]
           + [f"{k}={v}" for k, v in args_kv.items()])
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=jvm_root)
    ready = {}

    def watch():
        for line in proc.stdout:
            if line.strip() == "PERFBENCH_READY" and "s" not in ready:
                ready["s"] = time.perf_counter() - t0
    th = threading.Thread(target=watch, daemon=True)
    th.start()
    return proc, th, ready


def run_jvm(cp, jvm_root, kv, deadline):
    """Run one harness JVM with its own temp root; returns its raw JSON."""
    os.makedirs(f"{jvm_root}/tmp")
    log_path = os.path.join(jvm_root, "jvm.log")
    with open(log_path, "w") as log:
        proc, th, ready = launch(cp, jvm_root, kv, log)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness ran past the {DEADLINE_S} s deadline (log: {log_path})")
        th.join()
    if proc.returncode != 0 or "s" not in ready:
        print(open(log_path, errors="replace").read()[-3000:], file=sys.stderr)
        fail(f"harness exited with {proc.returncode}")
    with open(kv["out"]) as f:
        raw = json.load(f)
    raw["setup_s"] = ready["s"]
    return raw


# ---------------------------------------------------------- correctness

def oracle_check(data_dir, check_dir, names):
    """dev/compare_local.py's rule over the dumped outputs; oracle-dark
    queries get schema and row count only. Returns {name: problem}."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "compare_local", os.path.join(ROOT, "dev", "compare_local.py"))
    compare_local = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare_local)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compare_local.main(data_dir, check_dir)
    text = buf.getvalue()
    results = json.loads(text[:text.rindex("\n\n")])
    bad = {n: r["status"] for n, r in results.items() if not str(r.get("status")).startswith("OK")}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')")
    for n in names:
        if n in results:
            continue
        if n not in SHAPE_ORACLES:
            bad[n] = "no oracle and no shape check"
            continue
        cols, count_sql = SHAPE_ORACLES[n]
        try:
            df = pd.read_parquet(os.path.join(check_dir, n))
        except Exception as e:
            bad[n] = f"output unreadable: {e}"
            continue
        want = con.execute(count_sql).fetchone()[0]
        if sorted(df.columns) != cols or len(df) != want:
            bad[n] = f"SHAPE: columns {sorted(df.columns)} rows {len(df)}, want {cols} rows {want}"
        else:
            print(f"check: {n} has no oracle; checked schema and row count only ({want} rows)")
    return bad


def fates_check(raw, history):
    """The fate histogram must equal every earlier run's of the same seed
    in this checkout (the first run records it)."""
    hist = raw["passes"][0]["fates_hist"]
    if not os.path.exists(history):
        with open(history, "w") as f:
            json.dump(hist, f, sort_keys=True)
        return []
    with open(history) as f:
        if json.load(f) != hist:
            return [f"fate histogram differs from an earlier run of this seed ({history})"]
    return []


# -------------------------------------------------------------- metrics

def steady_ops(raw):
    skip_first = raw["cold_is_first_op"]
    return [o for o in raw["ops"]
            if o["pass"] > 0 or (skip_first and o["idx"] > 0)]


def cold_pass_s(raw):
    """Pass 0's wall, or, where the cold part is the first op, the one-time
    build plus that op: no metric of its own gates the build, so work moved
    out of the steady ops into the build shows here."""
    if raw["cold_is_first_op"]:
        return raw["build_s"] + raw["ops"][0]["wall_s"]
    return raw["passes"][0]["wall_s"]


def steady_walls(raw):
    """Wall of each steady unit: every pass after the cold one, or, where
    the cold part is only the first op, the rest of that pass."""
    if raw["cold_is_first_op"]:
        return [raw["passes"][0]["wall_s"] - raw["ops"][0]["wall_s"]]
    return [p["wall_s"] for p in raw["passes"][1:]]


def trace_overhead(raw, twin):
    """(op_p50, wall) seconds tracing adds. With an untraced twin run: the
    traced run's op_p50_s and wall_s minus the twin's. Otherwise, over
    the traced run's own steady ops, each op name's median traced wall
    minus its median untraced wall: the median of those per op, and their
    sum for a whole pass."""
    if twin is not None:
        t, u = end_to_end(raw), end_to_end(twin)
        return t["op_p50_s"] - u["op_p50_s"], t["wall_s"] - u["wall_s"]
    med = statistics.median
    t = {}
    for o in steady_ops(raw):
        t.setdefault(o["name"], {}).setdefault(o["traced"], []).append(o["wall_s"])
    diffs = [med(v[True]) - med(v[False]) for v in t.values() if True in v and False in v]
    if not diffs:
        raise ValueError("no op ran both traced and untraced")
    return med(diffs), sum(diffs)


def end_to_end(raw):
    ops = steady_ops(raw)
    return {"setup_s": raw["setup_s"], "cold_pass_s": cold_pass_s(raw),
            "wall_s": statistics.median(steady_walls(raw)),
            "op_p50_s": statistics.median(o["wall_s"] for o in ops),
            "peak_rss_mb": raw["peak_rss_mb"]}


def per_layer(raw, twin=None):
    ops = [o for o in steady_ops(raw) if o["traced"]]
    n = len(ops)
    m = {k: sum(o[k] for o in ops) / n for k in ADDITIVE}
    tot = lambda k: sum(o[k] for o in ops)  # noqa: E731
    m["operators.parallel_eff"] = tot("exec_task_s") / max(1e-9, tot("exec_wall_core_s"))
    m["operators.useful_task_ratio"] = tot("useful_tasks") / max(1, tot("operators.tasks"))
    m["operators.peak_exec_mem_mb"] = max(o["operators.peak_exec_mem_mb"] for o in ops)
    m["sources.scan_records_per_batch_record"] = (
        tot("scan_records") / tot("input_records") if tot("input_records") else 0.0)
    m["GraftSession.start_s"] = raw["GraftSession.start_s"]
    for k in ("Pipeline.front_s", "Pipeline.persist_s", "Pipeline.load_s"):
        m[k] = raw.get(k, 0.0)
    ticks = [p for p in raw["passes"] if "Maintain.tick_s" in p]
    m["Maintain.tick_s"] = statistics.median(p["Maintain.tick_s"] for p in ticks) if ticks else 0.0
    m["Maintain.healed"] = statistics.median(p["Maintain.healed"] for p in ticks) if ticks else 0.0
    traced_ids = {f"{o['pass']}.{o['idx']}" for o in ops}
    by_layer = stats.self_time_by_layer([s for s in raw["spans"] if s["op"] in traced_ids])
    for layer in ("bench", "SparkEntry", "plans", "operators"):
        m[f"self.{layer}_s"] = by_layer.get(layer, 0.0) / n
    m["trace.overhead_op_p50_s"], m["trace.overhead_wall_s"] = trace_overhead(raw, twin)
    return m


# ----------------------------------------------------------------- main

def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail(f"no BENCHMARK.json at {ROOT}")
    cp = build()
    w = WORKLOADS[a.workload]
    runs = os.path.join(ROOT, ".bench_runs")
    run_root = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    for d in (run_root, f"{runs}/last", f"{runs}/history"):
        os.makedirs(d, exist_ok=True)
    data = os.path.join(run_root, "data")
    gen_inputs.write(data, w["sf"], a.seed, w["tables"])
    deadline = start + DEADLINE_S

    def run_one(trace):
        root = os.path.join(run_root, f"jvm-t{trace}")
        return run_jvm(cp, root, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": trace, "data": data, "root": root, "cores": CORES,
            "out": os.path.join(root, "raw.json"), "check": os.path.join(root, "check")},
            deadline)
    twin = run_one(0) if a.trace and w["twin"] else None
    raw = run_one(a.trace)

    # correctness (untimed, after the timed passes)
    failed_ops, wrong, attempted = [], [], 0
    for r in [raw] + ([twin] if twin else []):
        failed_ops += [f"{o['name']} (pass {o['pass']}): {o['error']}"
                       for o in r["ops"] if o["error"]]
        wrong += [f for p in r["passes"] for f in p.get("failures", [])]
        wrong += r["build_failures"] + r.get("check_failures", [])
        if a.workload == "etl_reports":
            check = os.path.join(run_root, f"jvm-t{int(r['trace'])}", "check")
            names = [n for n in sorted(os.listdir(check))
                     if os.path.isdir(os.path.join(check, n))]
            n_checked = len(names)
            wrong += [f"{n}: {s}" for n, s in sorted(oracle_check(data, check, names).items())]
        else:
            n_checked = len(r["passes"])
            wrong += fates_check(r, os.path.join(runs, "history", f"fates-s{a.seed}.json"))
        attempted += len(r["ops"]) + n_checked
    failed = len(failed_ops) + len(wrong)
    for msg in failed_ops + wrong:
        print(f"FAILED: {msg}")

    # window honesty stamps
    dirty = sorted(set(raw["foreign_jvms_start"]) | set(raw["foreign_jvms_end"]))
    print(f"window: {'DIRTY' if dirty else 'clean'} foreign_jvms={dirty} "
          f"loadavg_start={raw['load_start']} loadavg_end={raw['load_end']}")

    extra = {"fail_ratio": (failed / attempted, "ratio")}
    if a.trace:
        layer = {k: (v, PER_LAYER_UNITS[k]) for k, v in per_layer(raw, twin).items()}
        metrics = {k: v for k, v in layer.items() if k not in PRINT_ONLY}
        extra.update((k, v) for k, v in layer.items() if k in PRINT_ONLY)
        with open(os.path.join(runs, "last", f"{a.workload}-trace.json"), "w") as f:
            json.dump({"spans": raw["spans"], "ops": raw["ops"], "passes": raw["passes"]}, f)
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in end_to_end(raw).items()}
    ops_s = [o["wall_s"] for o in steady_ops(raw)]
    p = stats.highest_percentile(len(ops_s), ladder=(90,))
    if p:
        extra[f"op_p{p}_s"] = (stats.percentile(ops_s, p), "s")
    if "build_s" in raw:
        extra["build_s"] = (raw["build_s"], "s")
    stores = [q["store_bytes_per_input_byte"] for q in raw["passes"]
              if "store_bytes_per_input_byte" in q]
    if stores:
        extra["store_bytes_per_input_byte"] = (stores[-1], "ratio")
    print(f"steady ops: {len(ops_s)}")
    for k, (v, unit) in list(metrics.items()) + list(extra.items()):
        assert stats.valid_metric_name(k), k
        print(f"metric {k} = {v:.6g} {unit}")

    shutil.rmtree(run_root, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
