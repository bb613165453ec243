#!/usr/bin/env python3
"""The repository benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/NOTES.md for why each exists):
  gdelt_etl        convert -> filter -> 3 samples -> pipeline via graft.cli.Main
  queries_tabular  a fixed panel of the tabular query suites
  queries_corpus   a fixed panel of the text/dedup/similarity suites (by hand
                   only: not in BENCHMARK.json, see NOTES.md)

The first run in a checkout compiles the repository's main sources together
with perfbench/src into .bench_build (sbt, offline). Every run then starts
one JVM on local[nproc], which sets up once, runs timed passes for
--seconds and checks every output. --trace 0 prints the end-to-end metrics;
--trace 1 runs traced passes, writes spans, the per-operation ledger and a
layer table under .bench_build/trace/, and prints the per-layer metrics.
The last line of standard output is the result as one JSON object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

sys.dont_write_bytecode = True
import gen_gdelt  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("gdelt_etl", "queries_tabular", "queries_corpus")
GOLDEN_ETL_SEED = 20240101
GOLDEN_ETL_ROWS = 1000
ETL_ROWS = 10000
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MB = 1048576.0


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compiles once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no src/main/scala/graft next to perfbench: run from a checkout "
             "of the repository")
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], HERE, env, out,
                        BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and "classes" in ln and
          not ln.startswith("[")]
    if r != 0 or not cp:
        fail("build failed, see " + log)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def run_bounded(cmd, cwd, env, out, limit):
    """Runs cmd in its own process group, killing the group past `limit` s;
    always waits for it to end. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def etl_inputs(seed, rows):
    d = os.path.join(BUILD, "inputs", "etl-%d-%d" % (seed, rows))
    if not os.path.exists(os.path.join(d, "truth.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen_gdelt.generate(seed, d, rows)
    return d


# ----------------------------------------------------------- layer report

def fit_floor(samples, cores):
    """Non-negative least squares wall = a + b*jobs + c*task_s/cores over
    (wall, jobs, task_s, name) samples: a cost per operation, per job and
    per core-second of task time cannot be negative, so the best fit over
    every subset of the three terms with non-negative coefficients wins.
    Returns (a, b, c, r2, floor-bound names), an operation being
    floor-bound when its task time per core is under half its wall."""
    if len(samples) < 4:
        return 0.0, 0.0, 0.0, 0.0, []
    import itertools
    import numpy as np
    y = np.array([s[0] for s in samples])
    x = np.array([[1.0, s[1], s[2] / cores] for s in samples])
    best = None
    for k in range(1, 4):
        for cols in itertools.combinations(range(3), k):
            sub = np.linalg.lstsq(x[:, cols], y, rcond=None)[0]
            if (sub < 0).any():
                continue
            coef = np.zeros(3)
            coef[list(cols)] = sub
            err = float(((y - x @ coef) ** 2).sum())
            if best is None or err < best[0]:
                best = (err, coef)
    tot = float(((y - y.mean()) ** 2).sum())
    r2 = 1.0 - best[0] / tot if tot > 0 else 0.0
    a, b, c = (float(v) for v in best[1])
    per = {}
    for s in samples:
        per.setdefault(s[3], []).append(s)
    bound = sorted(n for n, ss in per.items()
                   if sum(s[2] / cores for s in ss) < sum(s[0] for s in ss) / 2)
    return a, b, c, r2, bound


def per_pass(ledger, fn):
    """Median over traced passes of fn(rows of one pass)."""
    passes = {}
    for row in ledger:
        passes.setdefault(row["pass"], []).append(row)
    return median([fn(rows) for rows in passes.values()])


def layer_metrics(workload, result, cores):
    """Per-layer metrics and the layer attribution of run_s from the ledger
    of the traced passes."""
    led = result["ledger"]
    info = result["info"]
    m = {k: 0.0 for k in PER_LAYER}
    m["trace.overhead_s"] = result["metrics"]["trace.overhead_s"]["value"]

    def s(rows, key, sub=None):
        return sum((r[sub] if sub else r).get(key, 0.0) or 0.0 for r in rows)

    def ctr(r, key):
        return sum(r.get(k, {}).get(key, 0.0)
                   for k in ("counters", "construct_counters",
                             "execute_counters"))

    plan = lambda rows: s(rows, "analysis_s") + s(rows, "optimization_s") + \
        s(rows, "planning_s")
    for k in ("analysis_s", "optimization_s", "planning_s"):
        m["plans." + k] = per_pass(led, lambda rows, k=k: s(rows, k))
    run_s = info["traced_run_s"]
    if workload == "gdelt_etl":
        sub = "counters"
        by_op = lambda rows, op: [r for r in rows if r["op"] == op]
        for op in ("convert", "filter", "sample_indexed", "sample_daily",
                   "sample_stratified", "pipeline"):
            name = "cli.%s_s" % op
            m[name] = per_pass(led, lambda rows, op=op: s(by_op(rows, op),
                                                           "wall_s"))
        m["cli.pipeline_sql_execs"] = per_pass(
            led, lambda rows: s(by_op(rows, "pipeline"), "sql_execs"))
        lines = info["raw_lines"]
        conv = lambda rows: by_op(rows, "convert")
        m["etl.rows_in"] = float(lines)
        m["etl.rows_converted"] = per_pass(
            led, lambda rows: s(conv(rows), "output_rows", sub))
        m["etl.malformed_dropped"] = lines - m["etl.rows_converted"]
        m["etl.rows_filtered_out"] = per_pass(
            led, lambda rows: s(by_op(rows, "filter"), "input_rows", sub) -
            s(by_op(rows, "filter"), "output_rows", sub))
        m["etl.write_mb"] = per_pass(
            led, lambda rows: (s(conv(rows), "output_b", sub) +
                               s(by_op(rows, "filter"), "output_b", sub)) / MB)
        m["etl.files_written"] = per_pass(
            led, lambda rows: rows[0]["etl_files_written"])
        m["etl.write_amp"] = per_pass(
            led, lambda rows: s(conv(rows), "output_b", sub) /
            info["raw_bytes"])
        smp = lambda rows: [r for r in rows if r["op"].startswith("sample")]
        m["sample.rows_scanned_per_row_out"] = per_pass(
            led, lambda rows: s(smp(rows), "input_rows", sub) /
            max(1.0, s(smp(rows), "output_rows", sub)))
        m["sample.shuffle_mb"] = per_pass(
            led, lambda rows: s(smp(rows), "shuffle_write_b", sub) / MB)
        m["sources.input_mb"] = per_pass(
            led, lambda rows: s(by_op(rows, "pipeline"), "tsv_scan_bytes") / MB)
        m["sources.rows_parsed"] = per_pass(
            led, lambda rows: s(by_op(rows, "pipeline"), "tsv_rows_parsed"))
        execute = lambda rows: s(rows, "wall_s") - plan(rows)
        groups = [("etl (convert, filter)", ("convert", "filter")),
                  ("sample + dsl", ("sample_indexed", "sample_daily",
                                    "sample_stratified")),
                  ("sources (pipeline)", ("pipeline",))]
        table = [(name, per_pass(led, lambda rows, ops=ops: execute(
            [r for r in rows if r["op"] in ops]))) for name, ops in groups]
    else:
        m["queries.construct_s"] = per_pass(
            led, lambda rows: s(rows, "construct_s") - s(rows, "memo_build_s"))
        m["queries.construct_sql_execs"] = per_pass(
            led, lambda rows: s(rows, "construct_sql_execs"))
        m["caches.memo_builds"] = per_pass(
            led, lambda rows: s(rows, "memo_builds"))
        m["caches.memo_build_s"] = per_pass(
            led, lambda rows: s(rows, "memo_build_s"))
        m["caches.memo_mb"] = result["metrics"]["caches.memo_mb"]["value"]
        execute = lambda rows: s(rows, "execute_s")
        table = [("queries (construct)", m["queries.construct_s"]),
                 ("caches (memo builds)", m["caches.memo_build_s"])]
        sub = "execute_counters"
    m["exec.execute_s"] = per_pass(led, execute)
    for key, name, scale in (
            ("sql_execs", "exec.sql_execs", 1), ("jobs", "exec.jobs", 1),
            ("stages", "exec.stages", 1), ("tasks", "exec.tasks", 1),
            ("task_s", "exec.task_s", 1), ("cpu_s", "exec.cpu_s", 1),
            ("gc_s", "exec.gc_s", 1),
            ("shuffle_write_b", "exec.shuffle_write_mb", MB),
            ("shuffle_read_b", "exec.shuffle_read_mb", MB),
            ("spill_b", "exec.spill_mb", MB), ("input_b", "exec.input_mb", MB),
            ("failed_tasks", "exec.failed_tasks", 1)):
        m[name] = per_pass(led, lambda rows, key=key: s(rows, key, sub)) / scale
    if m["exec.execute_s"] > 0:
        m["exec.core_util"] = m["exec.task_s"] / (m["exec.execute_s"] * cores)
    samples = [(r["wall_s"], ctr(r, "jobs"), ctr(r, "task_s"), r["op"])
               for r in led]
    a, b, c, r2, bound = fit_floor(samples, cores)
    m.update({"floor.per_query_s": a, "floor.per_job_s": b,
              "floor.task_coef": c, "floor.r2": r2,
              "floor.bound_queries": float(len(bound))})
    plans_s = m["plans.analysis_s"] + m["plans.optimization_s"] + \
        m["plans.planning_s"]
    if workload == "gdelt_etl":
        table.append(("plans (Catalyst)", plans_s))
    else:
        table += [("plans (Catalyst)", plans_s),
                  ("exec (Spark execution)", m["exec.execute_s"])]
    table.append(("harness + tracing (rest)",
                  run_s - sum(v for _, v in table)))
    return m, table, bound


# -------------------------------------------------------------------- main

def fmt(xs):
    return "[" + ", ".join("%.2f" % x for x in xs) + "]"


def load_per_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [x["name"] for x in bench["per_layer"]], \
        {x["name"]: x["unit"] for x in bench["per_layer"]}


PER_LAYER, PER_LAYER_UNITS = [], {}


def main():
    global PER_LAYER, PER_LAYER_UNITS
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-goldens", action="store_true",
                    help="regenerate perfbench/goldens/<workload>.json")
    a = ap.parse_args()
    # a terminated run still stops the JVM or sbt it started (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    cp = build()
    PER_LAYER, PER_LAYER_UNITS = load_per_layer()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    goldens = os.path.join(HERE, "goldens", a.workload + ".json")
    jargs = ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", work, "--fixture",
             os.path.join(HERE, "fixture", "sf0.001"),
             "--goldens", goldens, "--out", os.path.join(work, "result.json"),
             "--write-goldens", "1" if a.write_goldens else "0"]
    if a.workload == "gdelt_etl":
        jargs += ["--etl-inputs", etl_inputs(a.seed, ETL_ROWS),
                  "--etl-golden", etl_inputs(GOLDEN_ETL_SEED, GOLDEN_ETL_ROWS)]
    # a fixed heap and young generation, so that how often the JVM collects
    # (and so peak_heap_mb) depends on allocation only
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx" + JVM_HEAP, "-Xms" + JVM_HEAP, "-Xmn384m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + jargs)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", "%s-seed%d-trace%d.log" % (
        a.workload, a.seed, a.trace))
    limit = RUN_LIMIT_S - (time.time() - started) if not a.write_goldens \
        else 3600
    try:
        with open(log, "w") as out:
            code = run_bounded(cmd, ROOT, env, out, max(30.0, limit))
        if code != 0:
            fail("benchmark JVM exited with %d, see %s" % (code, log))
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        shutil.copy(os.path.join(work, "result.json"), log[:-4] + ".json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.write_goldens:
        print("wrote %s (failed: %d)" % (goldens, result["failed"]))
        return
    info = result["info"]
    print("conf: " + json.dumps(info.get("conf", {}), sort_keys=True))
    if a.workload != "gdelt_etl":
        print("panel: %d queries, %d latency samples; set-up pays the "
              "per-session memos: %s" % (
                  len(info["queries"]),
                  info.get("latency_samples", 0),
                  ", ".join(info["setup_pays_per_session_memos"])))
    print("set-up: %.2f s; timed passes: %s s; %d operations attempted" % (
        info["setup_s"],
        fmt(info["passes_s"]),
        result["attempted"]))
    for q, why in sorted(info.get("failures", {}).items()):
        print("FAILED %s: %s" % (q, why))
    if a.trace:
        metrics, table, bound = layer_metrics(a.workload, result, cpus)
        tdir = os.path.join(BUILD, "trace", "%s-seed%d" % (a.workload, a.seed))
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "spans.json"), "w") as fh:
            json.dump(result["spans"], fh)
        with open(os.path.join(tdir, "ledger.json"), "w") as fh:
            json.dump(result["ledger"], fh, indent=0)
        rows = ["layer attribution of traced run_s = %.3f s (untraced %.3f s,"
                " trace_overhead %.3f s)" % (
                    info["traced_run_s"], info["untraced_run_s"],
                    metrics["trace.overhead_s"])]
        rows += ["  %-28s %8.3f s  %5.1f%%" % (n, v, 100.0 * v /
                                              info["traced_run_s"])
                 for n, v in table]
        rows.append("floor-bound ops (%d): %s" % (len(bound), " ".join(bound)))
        with open(os.path.join(tdir, "totals.json"), "w") as fh:
            json.dump({"metrics": metrics, "info": info}, fh, indent=1,
                      sort_keys=True)
        with open(os.path.join(tdir, "layers.txt"), "w") as fh:
            fh.write("\n".join(rows) + "\n")
        print("\n".join(rows))
        print("trace files: " + os.path.relpath(tdir, ROOT))
        out_metrics = {k: {"value": metrics[k], "unit": PER_LAYER_UNITS[k]}
                       for k in PER_LAYER}
    else:
        out_metrics = result["metrics"]
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": out_metrics}))


if __name__ == "__main__":
    main()
