#!/usr/bin/env python3
"""Benchmark driver: builds the program and the harness, prepares seeded
inputs, times one workload in a fresh JVM and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload validate_seq|assemble_docs|query_suite \
      --seed N --seconds S --trace 0|1

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes the span tree to perfbench/.work/traces/).
Everything the benchmark writes stays under perfbench/.work/. See
perfbench/README.md for the workloads, metrics and layer map.
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
import time

import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(HARNESS, "target", "bench-classpath.txt")

# Input sizes. validate_seq rows must be a multiple of 2000 (the
# generator's injection arithmetic).
SIZES = {"validate_seq": 1_000_000, "assemble_docs": 10_000}
# the star-schema test tables (seed 42, sf 0.01) the query suite reads
TABLES = os.path.join(BENCH, "tables", "sf0.01")
WORKLOADS = ("assemble_docs", "query_suite", "validate_seq")
HEAP = "2g"
JVM_TIMEOUT = 170
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_noise():
    """1-min load average and cumulative CPU jiffies (total, steal)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "jiffies": sum(cpu), "steal": cpu[7] if len(cpu) > 7 else 0}


def sh(cmd, cwd, timeout, log_path, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def sources_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), HARNESS]
    for top in tops:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    log("building the program and the harness (sbt)")
    t0 = time.time()
    # offline: every dependency comes from the local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    rc = sh(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], HARNESS, 600,
            os.path.join(WORK, "build.log"), env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"build failed (see {os.path.join(WORK, 'build.log')})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def jvm(workload, cores, extra, log_path):
    """Run perfbench.Main in a fresh JVM; exit if it fails."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
            "--workload", workload, "--cores", str(cores), "--work", WORK]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    cmd += ["--launched-at", repr(time.time())]
    rc = sh(cmd, ROOT, JVM_TIMEOUT, log_path)
    if rc != 0:
        sys.exit(f"perfbench.Main {workload} exited {rc} (see {log_path})")


def inputs(workload, seed):
    """Where the input lives. The JVM writes the seeded sequences table and
    document corpus there at the start of every run. The query suite reads
    the committed sf0.01 tables; the seed only sets the query order, so
    their oracle verification runs once per checkout.
    """
    if workload != "query_suite":
        return {"input": os.path.join(WORK, f"input-{workload}"), "rows": SIZES[workload]}
    rows = sum(pq.ParquetFile(os.path.join(TABLES, f)).metadata.num_rows
               for f in os.listdir(TABLES))
    return {"input": TABLES, "rows": rows, "verified": os.path.join(WORK, "verified-sf0.01.json"),
            "oracle": os.path.join(ROOT, "tools", "check_oracle.py")}


def untraced_wall_median(workload, input_rows):
    """Median wall_s of this checkout's untraced runs of `workload` on
    inputs of the same size, if any."""
    path = os.path.join(WORK, "runs.jsonl")
    walls = []
    if os.path.exists(path):
        for line in open(path):
            r = json.loads(line)
            if (r["workload"], r["trace"], r["input_rows"]) == (workload, 0, input_rows):
                walls.append(r["metrics"]["wall_s"])
    return statistics.median(walls) if walls else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the process group it started (see sh)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("the program's sources (build.sbt, src/main/scala) are not beside perfbench/")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    noise0 = host_noise()
    build()
    cores = len(os.sched_getaffinity(0))
    jlog = os.path.join(WORK, f"jvm-{a.workload}.log")
    extra = inputs(a.workload, a.seed)

    # output left by a run that was killed mid-pass would let the next run
    # resume instead of compute (the fresh-state gates would then fail it)
    for d in os.listdir(WORK):
        if d.startswith(("validate-", "assemble-", "verify")):
            shutil.rmtree(os.path.join(WORK, d))
    out = os.path.join(WORK, f"run-{a.workload}.json")
    trace_out = os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json")
    jvm(a.workload, cores, dict(extra, seed=a.seed, seconds=a.seconds, trace=a.trace,
                                out=out, **{"trace-out": trace_out}), jlog)
    r = json.load(open(out))
    if a.workload != "query_suite":
        log(f"generated the {a.workload} input for seed {a.seed} in {r['gen_s']:.1f} s")
    noise1 = host_noise()
    dj = max(1, noise1["jiffies"] - noise0["jiffies"])
    noise = {"load1_start": noise0["load1"], "load1_end": noise1["load1"],
             "steal_frac": (noise1["steal"] - noise0["steal"]) / dj}
    log(f"host: load1 {noise['load1_start']} -> {noise['load1_end']}, "
        f"steal {noise['steal_frac']:.4f}")

    if a.trace:
        base = untraced_wall_median(a.workload, r["input_rows"])
        if base is None:
            log("no untraced run of this workload yet: trace.overhead_s reads 0")
        vals = dict(r["per_layer"])
        vals["trace.overhead_s"] = vals["trace.wall_s"] - base if base is not None else 0.0
        # a layer this workload does not exercise reads 0
        metrics = {m["name"]: {"value": vals.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        doc = json.load(open(trace_out))
        doc.update(seed=a.seed, host=noise, untraced_wall_median_s=base,
                   per_layer={k: v["value"] for k, v in metrics.items()})
        with open(trace_out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        log(f"trace written to {trace_out}")
    else:
        vals = dict(r["end_to_end"], setup_s=r["setup_s"])
        metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for p in r["problems"]:
        log(f"FAILED: {p}")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
              "host": noise,
              **{k: r[k] for k in ("setup_s", "gen_s", "pass_wall_s", "input_rows")},
              "metrics": {k: v["value"] for k, v in metrics.items()}}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
