#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (listed in BENCHMARK.json): index_loop, dashboard_reads,
curation_jobs; see perfbench/README.md.
Builds the program and the harness first (perfbench/build.py), then runs the
workload in one JVM on Spark local[N], N = the number of usable cores. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones. Everything the run writes stays under .bench_build/ and is removed at
the end. The last stdout line is
  {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("index_loop", "dashboard_reads", "curation_jobs")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if build.build(quiet=True) != 0:
        sys.exit(2)

    out = os.path.join(ROOT, ".bench_build")
    run_dir = os.path.join(out, f"run-{os.getpid()}")
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    log_path = os.path.join(out, f"{a.workload}.log")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           # deep enough that job call sites reach the Pipeline methods
           "-Dspark.callstack.depth=200"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.CLASSES + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores())]
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               cwd=run_dir, timeout=TIMEOUT_S)
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(open(log_path).read()[-6000:])
            sys.stderr.write(f"run: JVM exited {p.returncode}\n")
            sys.exit(1)
        res = json.loads(lines[-1])
        if "oracle" in res:
            import oracle
            oracle.check(res)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"run: timed out after {TIMEOUT_S} s\n")
        sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in res.get("problems", []):
        sys.stderr.write(f"check failed: {p}\n")
    sys.stderr.write(f"{a.workload} seed {a.seed}: {res['attempted']} ops, "
                     f"{res['failed']} failed\n")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
