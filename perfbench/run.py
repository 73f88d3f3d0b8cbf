#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client against the library's
public API on Spark local[k], one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the driver with
sbt (once per source fingerprint, into perfbench/target), generates the
seeded input tables and operations, runs the JVM driver, checks every
operation's result against DuckDB, and prints one JSON record as the last
line of stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. The per-layer self-time table goes to stderr, and the record
with its environment stamp is kept under .bench_build/records/ for
compare.py. Workloads, metrics and the layer each metric belongs to are
described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")

# Input size, as a fraction of the sf0.1 test data (datagen.sizes). Chosen
# so that one run, set-up included, takes about a minute on a 4-core host.
SCALE = 0.25
SETUPS = 3          # load-and-stats repetitions per run; setup_s takes their median
WARMUP_OPS = 4      # untimed operations at the end of set-up
OP_LIST = 400       # generated operations the closed loop cycles through
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# per-layer metrics taken from span self times: metric -> span name
SPAN_LAYERS = {
    "cypher.parse_ms": "cypher.parse",
    "plans.plan_ms": "plans.plan",
    "operators.build_ms": "operators.build",
    "cypher.action_ms": "cypher.action",
    "graphdb.execute_ms": "graphdb.execute",
    "algorithms.call_ms": "algorithms.call",
    "algorithms.action_ms": "algorithms.action",
    "kernel.op_ms": "kernel.op",
    "text.call_ms": "text.call",
    "text.action_ms": "text.action",
    "ml.call_ms": "ml.call",
    "ml.action_ms": "ml.action",
}
# per-layer metrics read from the listeners, per operation
COLLECTED = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.exchanges", "exec.jobs", "exec.stages", "exec.tasks", "exec.job_busy_ms",
    "exec.driver_gap_ms", "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms",
    "exec.sched_wait_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.task_skew", "exec.failed_tasks",
    "graphdb.execute.jobs", "algorithms.call.jobs",
    "util.scratch_rdds_held", "util.cache_held_mb",
]
RENAMED = {"graphdb.execute.jobs": "graphdb.execute_jobs",
           "algorithms.call.jobs": "algorithms.call_jobs"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Classpath of the compiled library + driver, building if the sources
    changed since the last build in this checkout."""
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, f"classpath-{fp}.txt")
    if os.path.exists(cp_file):
        return fp, open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the library and the driver with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed (see .bench_build/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return fp, lines[-1]


def driver_heap():
    """The tier-1 driver heap: half the host memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_revision():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, cores, heap, data, run_dir, scratch, ops_file, warm_file, seconds, trace):
    # Spark's block manager and shuffle files and the JVM's temporary files
    # stay inside the checkout
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--cores", str(cores), "--data", data, "--out", run_dir, "--ops", ops_file,
            "--warmup", warm_file, "--seconds", str(seconds), "--trace", str(trace),
            "--setups", str(SETUPS)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"driver exited with {rc}")


def read_ops(run_dir):
    rows = []
    with open(os.path.join(run_dir, "ops.tsv")) as f:
        for line in f:
            seq, op_id, name, lat, n, dig, err = line.rstrip("\n").split("\t")
            rows.append({"seq": int(seq), "id": int(op_id), "name": name,
                         "lat_ms": int(lat) / 1e6, "rows": int(n), "digest": dig, "error": err})
    return rows


def check(rows, ops, data):
    """Marks each row correct or not against the DuckDB answer for its
    operation's parameters. Off the clock: the JVM has exited."""
    orc = oracle.Oracle(data)
    answers = {}
    for r in rows:
        if r["error"]:
            r["ok"] = False
            continue
        if r["id"] not in answers:
            answers[r["id"]] = orc.answer(ops[r["id"]]["sql"])
        r["ok"] = answers[r["id"]] == (r["rows"], r["digest"])
        if not r["ok"] and "mismatch" not in r:
            r["mismatch"] = answers[r["id"]]
    orc.close()


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    if lo == k:
        return xs[lo]
    return xs[lo] + (xs[lo + 1] - xs[lo]) * (k - lo)


def latencies(rows, ops, window_s):
    """Latencies of the window's first round: one operation of every
    template, so the mix is the same in every run whatever the host's
    speed. A failed operation misses every latency limit: it counts as
    taking the whole window."""
    round_len = len({op["name"] for op in ops})
    return [r["lat_ms"] if r["ok"] else window_s * 1000 for r in rows if r["seq"] < round_len]


def end_to_end(summary, rows, ops):
    lats = latencies(rows, ops, summary["window_s"])
    return {
        "ops_per_s": (sum(r["ok"] for r in rows) / summary["window_s"], "1/s"),
        "latency_p50_ms": (quantile(lats, 0.5), "ms"),
        "latency_p75_ms": (quantile(lats, 0.75), "ms"),
        "setup_s": (summary["setup_s"], "s"),
    }


def layer_self_ms(run_dir):
    """seq -> {span name: self ms} for every traced operation instance,
    where a span's self time is its duration minus its children's."""
    spans = []
    with open(os.path.join(run_dir, "spans.tsv")) as f:
        for line in f:
            sid, name, s, e, parent, seq = line.rstrip("\n").split("\t")
            spans.append((int(sid), name, (int(e) - int(s)) / 1e6, int(parent), int(seq)))
    child = {}
    for _, _, ms, parent, _ in spans:
        child[parent] = child.get(parent, 0.0) + ms
    out = {}
    for sid, name, ms, _, seq in sorted(spans):
        if seq < 0:
            continue
        layers = out.setdefault(seq, {})
        layers[name] = layers.get(name, 0.0) + ms - child.get(sid, 0.0)
        if name == "cypher.parse":
            layers["_last_parse"] = ms
    # operators.build (the query call) parses and plans the read again:
    # report it net of the read's standalone parse and plan; kernel.op is
    # reported whole, its collect included
    for layers in out.values():
        if "kernel.op" in layers:
            layers["kernel.op"] += layers.get("kernel.action", 0.0)
        if "operators.build" in layers:
            layers["operators.build"] = max(0.0, layers["operators.build"] -
                                            layers.get("plans.plan", 0.0) - layers["_last_parse"])
        layers.pop("_last_parse", None)
    return out


def median_or_zero(vals):
    return statistics.median(vals) if vals else 0.0


def per_layer(summary, rows, run_dir, ops):
    """Median per operation of every per-layer metric (a layer's median over
    the operations that called it); the self-time table goes to stderr."""
    layers = layer_self_ms(run_dir)
    metrics = {m: (median_or_zero([ls[span] for ls in layers.values() if span in ls]), "ms")
               for m, span in SPAN_LAYERS.items()}
    metrics["sources.load_ms"] = (statistics.median(summary["sources_load_ms"]), "ms")
    metrics["graph.stats_ms"] = (statistics.median(summary["graph_stats_ms"]), "ms")

    collected = {}
    with open(os.path.join(run_dir, "opmetrics.tsv")) as f:
        for line in f:
            seq, *kvs = line.rstrip("\n").split("\t")
            collected[int(seq)] = {k: float(v) for k, v in (kv.split("=", 1) for kv in kvs)}
    traced = {r["seq"]: r for r in rows}
    for name in COLLECTED:
        out = RENAMED.get(name, name)
        suffix = out.rsplit("_", 1)[-1]
        unit = {"ms": "ms", "bytes": "bytes", "mb": "MB"}.get(suffix, "count")
        if name in RENAMED:      # jobs started inside one layer's calls
            span = name.rsplit(".", 1)[0]
            vals = [m.get(name, 0.0) for seq, m in collected.items() if span in layers.get(seq, {})]
        elif out.startswith("util."):   # held after an operation: the worst one
            vals = [max((m.get(name, 0.0) for m in collected.values()), default=0.0)]
        else:
            vals = [m.get(name, 0.0) for m in collected.values()]
        metrics[out] = (median_or_zero(vals), "ratio" if out == "exec.task_skew" else unit)
    metrics["exec.rows_read_per_row_out"] = (median_or_zero(
        [m.get("exec.rows_read", 0.0) / max(1, traced[seq]["rows"]) for seq, m in collected.items()]),
        "ratio")
    metrics["jvm.heap_live_mb"] = (summary["heap_live_mb"], "MB")
    for metric, kind in (("kernel.out_nvals", "kernel"), ("text.out_rows", "text"), ("ml.out_rows", "ml")):
        metrics[metric] = (median_or_zero(
            [r["rows"] for r in traced.values() if ops[r["id"]]["kind"] == kind]), "count")
    # latency with tracing on; minus latency_p50_ms of the untraced run of
    # the same seed it is the tracing overhead (compare.py overhead)
    metrics["trace.latency_p50_ms"] = (quantile(latencies(rows, ops, summary["window_s"]), 0.5), "ms")
    metrics["error_rate"] = (sum(not r["ok"] for r in rows) / max(1, len(rows)), "ratio")

    table = {}
    for ls in layers.values():
        for name, ms in ls.items():
            table.setdefault(name, []).append(ms)
    log(f"per-layer self time over {len(layers)} traced operations (layer, calls, total ms, median ms):")
    for name in sorted(table):
        v = table[name]
        log(f"  {name:<18} {len(v):>6} {sum(v):>11.1f} {statistics.median(v):>9.2f}")
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}; run from the root of a checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    fp, cp = build()

    cores = min(4, os.cpu_count() or 1)
    heap = driver_heap()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    scratch = os.path.join(run_dir, "scratch")
    data = os.path.join(scratch, "data")
    os.makedirs(data, exist_ok=True)
    try:
        t0 = time.time()
        sizes = datagen.sizes(SCALE)
        counts = datagen.generate(data, a.seed, SCALE)
        ops = workloads.generate(a.workload, a.seed, sizes, OP_LIST)
        warm = workloads.generate(a.workload, a.seed + 1_000_003, sizes, WARMUP_OPS)
        ops_file, warm_file = os.path.join(run_dir, "ops.jsonl"), os.path.join(run_dir, "warmup.jsonl")
        for path, lst in ((ops_file, ops), (warm_file, warm)):
            with open(path, "w") as f:
                for op in lst:
                    f.write(json.dumps({k: op[k] for k in ("id", "kind", "name", "args")}) + "\n")
        log(f"inputs generated in {time.time() - t0:.1f}s: {counts}")

        run_jvm(cp, cores, heap, data, run_dir, scratch, ops_file, warm_file, a.seconds, a.trace)
        with open(os.path.join(run_dir, "summary.json")) as f:
            summary = json.load(f)
        rows = read_ops(run_dir)
        t1 = time.time()
        check(rows, ops, data)
        bad = [r for r in rows if not r["ok"]]
        log(f"checked {len(rows)} results against DuckDB in {time.time() - t1:.1f}s: "
            f"{len(rows) - len(bad)} correct, {len(bad)} failed")
        for r in bad[:10]:
            log(f"  FAILED op {r['id']} {r['name']}: {r['error'] or 'rows/digest differ'} "
                f"(got {r['rows']} rows, oracle {r.get('mismatch', ('-',))[0]} rows)")

        metrics = per_layer(summary, rows, run_dir, ops) if a.trace else end_to_end(summary, rows, ops)
        n_run = len(rows)
        log(f"{n_run} operations in the {summary['window_s']:.2f}s window; set-up "
            f"{summary['session_s']:.2f}s session, loads {summary['load_s']} s, "
            f"warm-up {summary['warmup_s']:.2f}s")
        record = {
            "correct": not bad,
            "attempted": len(rows),
            "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        stamp = dict(summary["stamp"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                     trace=a.trace, driver_heap=heap, git=git_revision(), source_fingerprint=fp,
                     scale=SCALE, tables=counts, window_ops=n_run)
        os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
        with open(os.path.join(BUILD, "records", f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json"),
                  "w") as f:
            json.dump(dict(record, stamp=stamp), f)
        print(json.dumps(record))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
