#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The first run builds the program and
the harness with sbt (perfbench/harness); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed and
cached per seed. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; the line before it gives
the run's context (CPU steal, load average, the process's own cores).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

WORKLOADS = ["wordcount_mr", "tpch_sql", "dedup_search"]
RUN_LIMIT_S = 170
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
MODULES = ["operators.Sql", "operators.Dedup", "operators.SimSearch",
           "operators.TextAnalysis", "operators.Curation", "streaming.Streams", "mr"]
KERNELS = ["vec_dot", "vec_cos", "minhash_sig", "shingle_hashes", "simhash64",
           "winnow_fingerprints"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HARNESS, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness once per source state and
    returns the runtime classpath and the source stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft; run from the source root")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"], stamp
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=800)
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip(), stamp


def cpu_times():
    """(total, steal) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return sum(f), f[7]


def run_jvm(cp, workload, in_dir, out_dir, seconds, trace):
    """Runs the harness JVM; returns set-up seconds, its result and the CPU
    seconds the OS charged to it and to the children it waited for."""
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", workload, in_dir, out_dir,
              os.path.join(HERE, "scripts"), str(seconds), str(trace)])
    os.makedirs(os.path.join(out_dir, "tmp"))
    log = open(os.path.join(out_dir, "jvm.log"), "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        proc.kill()
    killer = threading.Timer(RUN_LIMIT_S, kill)
    killer.start()
    setup_s = None
    try:
        for line in proc.stdout:
            if line.strip() == "READY" and setup_s is None:
                setup_s = time.monotonic() - t0
        # wait4 gives the JVM's own resource usage, its waited-for
        # children (the MapReduce scripts) included
        _, status, usage = os.wait4(proc.pid, 0)
        proc.stdout.close()
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        killer.cancel()
        log.close()
    if timed_out.is_set():
        fail(f"{workload} did not finish within {RUN_LIMIT_S} s; see {log.name}")
    if proc.returncode != 0 or setup_s is None:
        fail(f"harness exited with {proc.returncode}; see {log.name}")
    with open(os.path.join(out_dir, "result.json")) as fh:
        return setup_s, json.load(fh), usage.ru_utime + usage.ru_stime


def med(xs):
    return statistics.median(xs) if xs else 0.0


def union(intervals):
    """Total length covered by (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def end_to_end(setup_s, res):
    cold = res["passes"][0]
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    tot = lambda p, f: sum(o[f] for o in p["ops"])  # noqa: E731
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "warm_pass_s": (med([p["wall_s"] for p in warm]), "s"),
        "cpu_s": (med([p["cpu_s"] for p in warm]), "s"),
        "jobs": (med([tot(p, "jobs") for p in warm]), "count"),
        "shuffle_mb": (med([tot(p, "shuffle_write_b") for p in warm]) / 1e6, "MB"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, spans):
    """Layer metrics: medians over the warm passes of per-pass sums."""
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    cold = res["passes"][0]

    def w(fn):
        return med([fn(p) for p in warm])

    def tot(p, f, mod=None):
        return sum(o[f] for o in p["ops"] if mod is None or o["module"] == mod)

    def outside_jobs(p):
        return p["wall_s"] - union((j[3], j[4]) for j in spans["jobs"] if j[0] == p["pass"])

    m = {}
    for mod in MODULES:
        m[f"{mod}.plan_s"] = (w(lambda p: tot(p, "plan_s", mod)), "s")
        m[f"{mod}.exec_s"] = (w(lambda p: tot(p, "exec_s", mod)), "s")
    for mod in ["operators.Dedup", "operators.SimSearch", "operators.TextAnalysis",
                "operators.Curation"]:
        m[f"{mod}.cold_plan_s"] = (tot(cold, "plan_s", mod), "s")
    m.update({
        "catalyst.analysis_ms": (w(lambda p: tot(p, "analysis_ms")), "ms"),
        "catalyst.optimizer_ms": (w(lambda p: tot(p, "optimizer_ms")), "ms"),
        "catalyst.planning_ms": (w(lambda p: tot(p, "planning_ms")), "ms"),
        "codegen.compile_ms": (w(lambda p: p["codegen_ms"]), "ms"),
        "scheduler.jobs": (w(lambda p: tot(p, "jobs")), "count"),
        "scheduler.stages": (w(lambda p: tot(p, "stages")), "count"),
        "scheduler.tasks": (w(lambda p: tot(p, "tasks")), "count"),
        "scheduler.outside_jobs_s": (w(outside_jobs), "s"),
        "executor.busy_cores": (w(lambda p: tot(p, "run_s") / p["wall_s"]), "cores"),
        "executor.run_s": (w(lambda p: tot(p, "run_s")), "s"),
        "executor.cpu_s": (w(lambda p: tot(p, "cpu_s")), "s"),
        "executor.gc_s": (w(lambda p: tot(p, "gc_s")), "s"),
        "jvm.gc_s": (w(lambda p: p["jvm_gc_s"]), "s"),
        "jvm.jit_ms": (cold["jit_ms"], "ms"),
        "shuffle.write_mb": (w(lambda p: tot(p, "shuffle_write_b")) / 1e6, "MB"),
        "shuffle.read_mb": (w(lambda p: tot(p, "shuffle_read_b")) / 1e6, "MB"),
        "shuffle.records": (w(lambda p: tot(p, "shuffle_records")), "count"),
        "shuffle.fetch_wait_s": (w(lambda p: tot(p, "fetch_wait_s")), "s"),
        "spill.mb": (w(lambda p: tot(p, "spill_b")) / 1e6, "MB"),
        "memory.peak_execution_mb": (w(lambda p: max(o["peak_exec_b"] for o in p["ops"])) / 1e6, "MB"),
        "io.input_mb": (w(lambda p: tot(p, "input_b")) / 1e6, "MB"),
        "io.input_rows": (w(lambda p: tot(p, "input_rows")), "count"),
        "streaming.batches": (w(lambda p: tot(p, "batches")), "count"),
        "streaming.add_batch_ms": (w(lambda p: tot(p, "add_batch_ms")), "ms"),
        "streaming.query_planning_ms": (w(lambda p: tot(p, "query_planning_ms")), "ms"),
        "streaming.wal_commit_ms": (w(lambda p: tot(p, "wal_commit_ms")), "ms"),
        "streaming.state_commit_ms": (w(lambda p: tot(p, "state_commit_ms")), "ms"),
        "streaming.state_rows": (w(lambda p: tot(p, "state_rows")), "count"),
        "trace.warm_pass_s": (w(lambda p: p["wall_s"]), "s"),
    })
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = (res["functions"].get(k, 0.0), "ns")
    return m


def self_times(spans):
    """Self time of each span kind, summed over the warm passes: a span's
    wall time not covered by its children (pass → op → plan/exec → job →
    stage)."""
    warm = {p[0] for p in spans["passes"] if p[1] == "warm"}
    ops = [o for o in spans["ops"] if o[0] in warm]
    jobs = [j for j in spans["jobs"] if j[0] in warm]
    stages = [s for s in spans["stages"] if s[0] in warm and s[3] > 0]
    pass_wall = sum(p[3] for p in spans["passes"] if p[0] in warm)
    op_wall = sum(o[5] - o[3] for o in ops)
    job_wall = union((j[3], j[4]) for j in jobs)
    stage_wall = union((s[3], s[4]) for s in stages)
    return {"pass_self_s": pass_wall - op_wall,
            "op_outside_jobs_s": op_wall - job_wall,
            "job_outside_stages_s": job_wall - stage_wall,
            "stages_s": stage_wall,
            "warm_passes": len(warm)}


def checks(workload, in_dir, out_dir, res, jvm_cpu_s):
    import check  # needs the repo's tools/, which build() has found
    fails = check.outputs(workload, in_dir, out_dir)
    # the listener's rows of full-table scans against the parquet footers
    for op, table in res["scans"].items():
        want = pq.ParquetFile(os.path.join(in_dir, f"{table}.parquet")).metadata.num_rows
        for p in res["passes"]:
            got = [o["input_rows"] for o in p["ops"] if o["op"] == op][0]
            if got != want:
                fails.append(f"{op}: listener read {got:.0f} rows in pass {p['pass']}, "
                             f"footers hold {want}")
    # summed task CPU cannot exceed the process CPU time the OS reports
    if res["task_cpu_total_s"] > jvm_cpu_s:
        fails.append(f"task CPU {res['task_cpu_total_s']:.1f} s exceeds process CPU "
                     f"{jvm_cpu_s:.1f} s")
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, stamp = build()
    in_dir = gen.inputs(WORK, a.workload, a.seed)
    out_dir = os.path.join(WORK, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    load0 = os.getloadavg()[0]
    cpu0 = cpu_times()
    setup_s, res, jvm_cpu_s = run_jvm(cp, a.workload, in_dir, out_dir, a.seconds, a.trace)
    cpu1 = cpu_times()
    shutil.rmtree(os.path.join(out_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(out_dir, "spark-local"), ignore_errors=True)

    fails = checks(a.workload, in_dir, out_dir, res, jvm_cpu_s)
    for f in fails:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    attempted = sum(len(p["ops"]) for p in res["passes"])

    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    e2e = end_to_end(setup_s, res)
    context = {
        "steal_pct": round(100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]), 3),
        "loadavg_1m_start": load0, "loadavg_1m_end": os.getloadavg()[0],
        "own_cores": round(sum(p["cpu_s"] for p in warm) / sum(p["wall_s"] for p in warm), 3),
        "cpus": res["cpus"], "warm_passes": len(warm), "seed": a.seed,
    }
    # warm_pass_s of untraced runs by seed, the base of the tracing
    # overhead; kept only for the current program, harness and inputs
    untraced_file = os.path.join(WORK, f"untraced-{a.workload}.json")
    version = f"{stamp}-{os.path.basename(in_dir).rsplit('-', 1)[1]}"
    untraced = {}
    if os.path.exists(untraced_file):
        with open(untraced_file) as fh:
            kept = json.load(fh)
        if kept.get("version") == version:
            untraced = kept["by_seed"]
    if a.trace:
        with open(os.path.join(out_dir, "spans.json")) as fh:
            spans = json.load(fh)
        metrics = per_layer(res, spans)
        summary = {"self_times": self_times(spans),
                   "traced_warm_pass_s": e2e["warm_pass_s"][0]}
        if untraced:
            # median over the untraced runs: one run's contention would
            # otherwise read as tracing overhead
            base = med(list(untraced.values()))
            summary["untraced_warm_pass_s"] = base
            summary["overhead_pct"] = 100.0 * (e2e["warm_pass_s"][0] / base - 1)
        with open(os.path.join(out_dir, "trace_summary.json"), "w") as fh:
            json.dump(summary, fh, indent=1)
        context["trace"] = summary
    else:
        metrics = e2e
        untraced[str(a.seed)] = e2e["warm_pass_s"][0]
        with open(untraced_file, "w") as fh:
            json.dump({"version": version, "by_seed": untraced}, fh)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not fails, "attempted": attempted, "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
