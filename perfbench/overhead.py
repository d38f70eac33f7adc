#!/usr/bin/env python3
"""Measure the tracing overhead of every workload and refresh the committed
traces in perfbench/results/.

For each workload it makes --pairs pairs of runs, one untraced and one
traced, both on the same seed (so on the same input), alternating which
of the two goes first. The overhead of a pair is the traced pass's wall
time minus the untraced one's. results/overhead.json records every pair
with its host noise, and per workload the median overhead and its
quartiles. results/<workload>.json becomes the trace of the traced run
whose CPU steal was closest to the median steal of the untraced runs.

Usage (from the repository root):
  python3 perfbench/overhead.py [--pairs 4] [--seed 500]
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("validate_seq", "assemble_docs", "query_suite")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SECONDS = json.load(_f)["run_seconds"]


def run(workload, seed, trace):
    """One run of run.py; returns its runs.jsonl record."""
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"run.py {workload} seed {seed} trace {trace} failed:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"run.py {workload} seed {seed} trace {trace} reported failures")
    with open(os.path.join(BENCH, ".work", "runs.jsonl")) as f:
        return json.loads(f.readlines()[-1])


def spread(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--seed", type=int, default=500, help="seed of the first pair")
    a = ap.parse_args()
    report = {}
    for w in WORKLOADS:
        pairs = []
        for k in range(a.pairs):
            seed = a.seed + k
            order = (0, 1) if k % 2 == 0 else (1, 0)
            rec = {}
            for trace in order:
                rec[trace] = run(w, seed, trace)
                if trace:
                    shutil.copy(os.path.join(BENCH, ".work", "traces", f"{w}-s{seed}.json"),
                                os.path.join(BENCH, ".work", f"overhead-{w}-s{seed}.json"))
            plain, traced = rec[0], rec[1]
            pairs.append({"seed": seed, "traced_first": order[0] == 1,
                          "untraced_wall_s": plain["metrics"]["wall_s"],
                          "traced_wall_s": traced["metrics"]["trace.wall_s"],
                          "overhead_s": traced["metrics"]["trace.wall_s"] - plain["metrics"]["wall_s"],
                          "untraced_steal": plain["host"]["steal_frac"],
                          "traced_steal": traced["host"]["steal_frac"]})
            print(w, json.dumps(pairs[-1]), flush=True)
        over = [p["overhead_s"] for p in pairs]
        rel = [p["overhead_s"] / p["untraced_wall_s"] for p in pairs]
        report[w] = {"pairs": pairs, "overhead_s": spread(over), "overhead_frac": spread(rel)}
        steal = statistics.median(p["untraced_steal"] for p in pairs)
        best = min(pairs, key=lambda p: abs(p["traced_steal"] - steal))
        shutil.copy(os.path.join(BENCH, ".work", f"overhead-{w}-s{best['seed']}.json"),
                    os.path.join(BENCH, "results", f"{w}.json"))
    with open(os.path.join(BENCH, "results", "overhead.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, r in report.items():
        o, f = r["overhead_s"], r["overhead_frac"]
        print(f"{w}: overhead median {o['median']:+.2f} s ({f['median']:+.1%}), "
              f"quartiles {o['q1']:+.2f} .. {o['q3']:+.2f} s")


if __name__ == "__main__":
    main()
