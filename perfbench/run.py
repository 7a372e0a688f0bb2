#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload queries|maintain \\
        --seed N --seconds S --trace 0|1 [--selftest]

Builds the harness (perfbench/harness, compiled with graft's sources)
when its inputs changed, generates the workload's inputs from the seed,
runs the workload in one fresh JVM (`local[nproc]`, fixed heap), checks
every output against independent computations (DuckDB, replays,
one-shot recomputes) and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones, and the traced run's per-operation latencies and raw
counters go to perfbench/traces/. `--selftest` then feeds every check a
deliberately corrupted result and requires that it fails (README.md).
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

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(HARNESS, "target", "perfbench-classpath.txt")
TRACES = os.path.join(HERE, "traces")
HEAP = "2g"
# A run's JVM lives well under a minute: C2 compilation would be a large,
# erratic share of its CPU, and the parallel collector has no concurrent
# threads competing with the workload.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC"]
JVM_TIMEOUT_S = 150

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload (see README.md for why these sizes).
SIZES = {
    "queries": dict(sf=0.001, n_docs=500, n_emb=500),
    "maintain": dict(sf=0.001, n_docs=50, n_emb=50),
}
STREAM = dict(n_boot=120, n_commits=40, n_insert=8, n_update=4, n_arrive=12)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file the harness build depends on."""
    yield os.path.join(ROOT, "build.sbt")
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                HARNESS):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def stamp():
    h = hashlib.sha256()
    for p in build_inputs():
        if not os.path.isfile(p):
            raise SystemExit(f"build input missing: {os.path.relpath(p, ROOT)}")
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt, unless the classpath of an
    identical earlier build is on file. Returns the runtime classpath."""
    st = stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            old_st, cp = f.read().split("\n", 1)
        if old_st == st:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "export harness/Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("harness build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(st + "\n" + cp)
    return cp


def steal_ticks():
    try:
        with open("/proc/stat") as f:
            return float(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(cp, workload, work, seconds, trace):
    out = os.path.join(work, "out.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--data", os.path.join(work, "data"),
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(len(os.sched_getaffinity(0))), "--out", out]
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        t_launch = time.time()
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(logf) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed ({rc})")
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = res["setup_end_ms"] / 1000.0 - t_launch
    return res


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p,
    (n+1)(1-p))-weighted mean of all order statistics. With the few
    operations a run has, it varies much less from run to run than the
    one or two order statistics the plain sample quantile reads."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.dot(np.diff(edges), xs))


def end_to_end(r):
    ops = r["op_s"]
    return {
        "setup_s": (r["setup_s"], "s"),
        "wall_s": (statistics.median(r["pass_wall_s"]), "s"),
        "op_p50_s": (hd_quantile(ops, 0.5), "s"),
        "op_p90_s": (hd_quantile(ops, 0.9), "s"),
        "cpu_s": (statistics.median(r["pass_cpu_s"]), "s"),
        "peak_rss_mb": (r["vm_hwm_kb"] / 1024.0, "MB"),
    }


def per_layer(r, live_corpus_b):
    t = r["trace"]
    P = r["passes"]

    def tag(name):
        return t.get(name, {})

    timed = {}
    for k, c in t.items():
        if k.startswith("timed|") and k != "timed|aux":
            for m, v in c.items():
                timed[m] = timed.get(m, 0.0) + v
    mb = 1024.0 * 1024.0
    m = {
        "tables.reads": (timed.get("table_scans", 0) / P, "count"),
        "tables.rows_read": (timed.get("table_rows", 0) / P, "count"),
        "plan.analysis_ms": (timed.get("analysis_ms", 0) / P, "ms"),
        "plan.optimizer_ms": (timed.get("optimizer_ms", 0) / P, "ms"),
        "plan.physical_ms": (timed.get("physical_ms", 0) / P, "ms"),
        "driver.cpu_s": ((sum(r["pass_cpu_s"]) - tag("timed|aux").get("proc_cpu_s", 0)
                          - timed.get("exec_cpu_s", 0)) / P, "s"),
        "exec.jobs": (timed.get("jobs", 0) / P, "count"),
        "exec.stages": (timed.get("stages", 0) / P, "count"),
        "exec.tasks": (timed.get("tasks", 0) / P, "count"),
        "exec.eager_jobs": (timed.get("eager_jobs", 0) / P, "count"),
        "exec.cpu_s": (timed.get("exec_cpu_s", 0) / P, "s"),
        "exec.gc_s": (timed.get("exec_gc_s", 0) / P, "s"),
        "exec.shuffle_write_mb": (timed.get("shuffle_write_b", 0) / mb / P, "MB"),
        "exec.shuffle_read_mb": (timed.get("shuffle_read_b", 0) / mb / P, "MB"),
        "exec.spill_mb": (timed.get("spill_b", 0) / mb / P, "MB"),
    }
    for layer in ("operators", "functions", "multimodal"):
        c = tag(f"timed|{layer}")
        m[f"{layer}.wall_s"] = (c.get("wall_s", 0) / P, "s")
        m[f"{layer}.cpu_s"] = (c.get("proc_cpu_s", 0) / P, "s")
        if layer != "multimodal":
            m[f"{layer}.jobs"] = (c.get("jobs", 0) / P, "count")
    v = tag("setup|views")
    m["views.build_s"] = (v.get("wall_s", 0), "s")
    m["views.cache_mb"] = (v.get("cache_b", 0) / mb, "MB")
    m["views.persisted_rdds"] = (v.get("persisted_rdds", 0), "count")
    commit, probe = tag("timed|sources.commit"), tag("timed|sources.probe")
    m["sources.commit_s"] = (commit.get("wall_s", 0) / P, "s")
    for kind in ("dedup", "df", "cluster", "media"):
        c = tag(f"timed|sources.refresh.{kind}")
        m[f"sources.refresh_s.{kind}"] = (c.get("wall_s", 0) / P, "s")
        m[f"sources.refresh_jobs.{kind}"] = (c.get("jobs", 0) / P, "count")
    m["sources.probe_s"] = (probe.get("wall_s", 0) / P, "s")
    returned = probe.get("rows_returned", 0)
    m["sources.probe_rows_examined"] = (
        probe.get("file_rows", 0) / returned if returned else 0.0, "ratio")
    batch_b = commit.get("batch_b", 0)
    m["sources.write_amp"] = (commit.get("bytes_written", 0) / batch_b if batch_b else 0.0, "ratio")
    m["sources.space_amp"] = (
        r.get("corpus_stored_b", 0) / live_corpus_b if live_corpus_b else 0.0, "ratio")
    m["sources.files_written"] = (commit.get("files_written", 0) / P, "count")
    m["host.steal_s"] = (r["steal_s"], "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="after the checks pass, feed each check a corrupted "
                         "result and require that it fails")
    a = ap.parse_args()

    cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen.tables(data, a.seed, **SIZES[a.workload])
        stream = None
        if a.workload == "maintain":
            stream = gen.commit_stream(os.path.join(data, "stream"), a.seed, **STREAM)
        steal0 = steal_ticks()
        r = run_jvm(cp, a.workload, work, a.seconds, a.trace)
        steal_run = (steal_ticks() - steal0) / 100.0
        results = os.path.join(work, "results")
        if a.workload == "maintain":
            with open(os.path.join(results, "maintain.json")) as f:
                r.update(json.load(f))

            def run_checks(corrupt=None):
                return checks.check_maintain(results, stream, r["rounds"], corrupt)
            names = checks.MAINTAIN_CHECKS
        else:
            def run_checks(corrupt=None):
                return checks.check_queries(data, results, corrupt), 0
            names = checks.query_names(results)
        t_checks = time.time()
        problems, live_b = run_checks()
        r["checks_s"] = time.time() - t_checks
        if a.selftest and not problems:
            problems = checks.selftest(run_checks, names, log)
        if a.trace:
            # summed executor CPU can not exceed the CPU of the one JVM
            # that ran the executors (local mode)
            exec_cpu = sum(c.get("exec_cpu_s", 0) for k, c in r["trace"].items()
                           if k.startswith("timed|"))
            if exec_cpu > sum(r["pass_cpu_s"]) * 1.001:
                problems.append(f"executor CPU {exec_cpu:.2f}s exceeds process CPU "
                                f"{sum(r['pass_cpu_s']):.2f}s")
        for p in problems:
            log(f"CHECK FAILED: {p}")
        for fmsg in r["failures"]:
            log(f"operation failed: {fmsg}")
        if a.trace:
            # per-operation latencies and raw counters: the trace file
            os.makedirs(TRACES, exist_ok=True)
            with open(os.path.join(TRACES, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump(r, f)
        e2e = end_to_end(r)
        metrics = per_layer(r, live_b) if a.trace else e2e
        summary = {k: round(v, 4) for k, (v, _) in e2e.items()}
        print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                          "passes": r["passes"], "ops": len(r["op_s"]),
                          "window_s": round(r["window_s"], 3),
                          "check_jvm_s": round(r["check_s"], 3),
                          "check_py_s": round(r["checks_s"], 3),
                          "host_steal_s": round(r["steal_s"], 3),
                          "host_steal_run_s": round(steal_run, 3), **summary}))
        if problems:
            raise SystemExit(f"{len(problems)} check(s) failed")
        attempted = r["attempted"] + r["setup_attempted"]
        failed = r["failed"] + r["setup_failed"]
        print(json.dumps({
            "correct": True, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
