#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one timed run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/build.sbt) into .bench_build/; later runs reuse that
build while the sources are unchanged. Each run generates its inputs
from the seed into its own directory under bench_runs/, which is deleted
on exit, and writes its full report (per-operation rows, spans,
per-layer self times) to bench_runs/reports/. A run measures a fixed
number of passes and at least --seconds. The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}.

Workloads (see BENCHMARK.json): i94_etl, llm_registry.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402

BUILD = ".bench_build"
# local[N]: at most 4 cores, the size every figure here was taken at.
CPUS = min(4, os.cpu_count() or 1)
# Run inputs and reports. Not under a dot-directory: the layout queries'
# zone-map reader skips every file whose path contains "/.".
RUNS = "bench_runs"
HEAP = "3g"
JVM_TIMEOUT_S = 150

# i94_etl: scale factor of the orders table SyntheticI94 derives its raw
# trips from (one trip per order, plus 10% planted duplicates).
# llm_registry takes its scale factor from pools.json.
ETL_SF = 0.01

# The module opens the root build gives forked runs (build.sbt), which a
# SparkSession needs on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is time the host gave to
    other guests, which slows every figure of the run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles program and harness once per source state; returns the
    runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building program and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    # sbt reads its launcher and the artifact caches from the home
    # directory; its own scratch files go under the checkout
    tmp = os.path.join(os.path.abspath(root), BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l]
    if p.returncode != 0 or not lines:
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def draw_queries(workload, seed):
    """(scale factor, queries): the workload's queries in seeded order."""
    with open(os.path.join(HERE, "pools.json")) as f:
        pool = json.load(f)[workload]
    queries = list(pool["queries"])
    random.Random(f"{workload}:{seed}").shuffle(queries)
    return pool["sf"], queries


def run_jvm(cp, work, args, queries, data, deadline):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out,
            "--queries", ",".join(queries)]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS)))
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["i94_etl", "llm_registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("no program sources here: run from the repository root")
    load_start = os.getloadavg()[0]
    cp = build(root)
    steal0, total0 = cpu_times()
    deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.join(root, RUNS,
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if args.workload == "i94_etl":
            gen.generate(data, ETL_SF, args.seed, tables=["orders"])
            queries = []
        else:
            sf, queries = draw_queries(args.workload, args.seed)
            gen.generate(data, sf, args.seed)
        rec = run_jvm(cp, work, args, queries, data, deadline)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            declared = {m["name"]: m["unit"] for m in
                        json.load(f)["per_layer" if args.trace else "end_to_end"]}
        result = report.evaluate(rec, args.trace == 1, data,
                                 os.path.join(root, "tools"), declared)
        result["load_avg_1m"] = [load_start, os.getloadavg()[0]]
        steal1, total1 = cpu_times()
        result["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        report.save(os.path.join(root, RUNS, "reports"), args, result)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["summary"]), flush=True)
    print(json.dumps(result["line"]), flush=True)


if __name__ == "__main__":
    main()
