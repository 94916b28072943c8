#!/usr/bin/env python3
"""Steadiness tool: run a workload repeatedly and judge its spread, or compare
two sets of runs.

  python3 perfbench/steady.py run --workload W [--runs 10] [--seed0 1]
                                  [--trace 0] [--out runs.jsonl]
      runs perfbench/run.py once per seed (seed0, seed0+1, ...), appends each
      result line to --out, then reports it.
  python3 perfbench/steady.py report A.jsonl [B.jsonl]
      per workload and metric: median, quartiles and spread (q3-q1)/median
      against the bound in BENCHMARK.json; with B, also B's median change
      against A's, in the metric's "worse" direction.

Quartiles are Python's statistics.quantiles(values, n=4). A spread counts as
steady below a third of the bound and fails above the bound; every metric
with a bound, setup_s included, is judged the same way."""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}, b["run_seconds"]


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], []).append(r)
    return runs


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(a_path, b_path=None):
    metrics, _ = spec()
    a = load(a_path)
    b = load(b_path) if b_path else {}
    ok = True
    for wl, runs in sorted(a.items()):
        bad = sum(1 for r in runs if not r["correct"] or r["failed"])
        print(f"\n{wl}: {len(runs)} runs, {bad} with failed checks, "
              f"wall {statistics.median(r['wall_s'] for r in runs):.1f} s median")
        ok &= bad == 0
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            m = metrics.get(name, {})
            bound = m.get("bound")
            med, q1, q3, spread = summary(vals)
            line = f"  {name:32s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  spread {spread:6.3f}"
            if bound is not None:
                steady = spread < bound / 3
                within = spread <= bound
                ok &= within
                line += f"  bound {bound}  {'steady' if steady else 'WITHIN' if within else 'TOO WIDE'}"
            if wl in b:
                bv = [r["metrics"][name]["value"] for r in b[wl] if name in r["metrics"]]
                if bv:
                    bmed = statistics.median(bv)
                    worse = (bmed - med) / med if m.get("better", "lower") == "lower" else (med - bmed) / med
                    line += f"  | B median {bmed:12.6g} worse by {worse:+.3f}"
                    if bound is not None and worse > bound:
                        line += " REGRESSED"
                        ok = False
            print(line)
    return ok


def run(a):
    _, secs = spec()
    out = a.out or os.path.join(ROOT, ".bench_build", f"steady-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(secs), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(f"seed {seed}: run failed with exit code {p.returncode}\n")
            continue
        r = json.loads(lines[-1])
        r.update(workload=a.workload, seed=seed, wall_s=wall)
        with open(out, "a") as fh:
            fh.write(json.dumps(r) + "\n")
        sys.stderr.write(f"seed {seed}: {wall:.1f} s, correct {r['correct']}\n")
    return report(out)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out")
    p = sub.add_parser("report")
    p.add_argument("a")
    p.add_argument("b", nargs="?")
    args = ap.parse_args()
    ok = run(args) if args.cmd == "run" else report(args.a, args.b)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
