#!/usr/bin/env python3
"""Catalog benchmark: times `SparkEntry.queries` entries end to end.

Usage (from the repository root):
    python3 perfbench/run.py --workload tail|memo_cold|heavy --seed N \
        --seconds S --trace 0|1
Every workload with one seed:
    for w in tail memo_cold heavy; do
        python3 perfbench/run.py --workload $w --seed 7 --seconds 22; done

One run builds the catalog and the driver (`perfbench/build.sbt`, cached
under `.bench_build/`), generates the source tables once, starts one JVM
with `local[nproc]`, runs an untimed check pass whose result dumps
`tools/check.py` compares with DuckDB running each entry's oracle SQL, then times
round(S / pass_s) passes (at least one; `pass_s` is the workload's measured
pass length in workloads.json) over the workload's entries, each entry
`fn(spark, dir)` plus a write to Spark's `noop` sink. The seed sets the order of the entries and, for `tail`,
which entries are drawn. The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics (from listeners and a log appender
installed by the driver) with `--trace 1`. Each run's record, and with
`--trace 1` its span file, is kept under `.bench_build/results/` for
`perfbench/summarize.py`.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_LIMIT_S = 165
XMX = "3g"
MB = 1048576.0
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"wall_s": "s", "entry_p50_s": "s", "ok_frac": "fraction", "setup_s": "s"}
PER_LAYER = {
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "tables.source_scans": "count", "tables.memo_scans": "count",
    "tables.memo_builds": "count", "tables.memo_write_s": "s",
    "tables.memo_write_mb": "MB", "tables.memo_hit_ratio": "fraction", "tables.scratch_mb": "MB",
    "catalyst.query_executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s", "codegen.fallbacks": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.idle_core_s": "s", "sched.uncovered_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.rows_out": "count", "exec.task_failures": "count",
    "plan.smj": "count", "plan.bhj": "count", "plan.exchanges": "count",
    "driver.heap_peak_mb": "MB", "trace.wall_s": "s"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the catalog and the driver once per source state; returns the
    runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no catalog sources under src/main/scala; run from a repository checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0" + open(f, "rb").read() + b"\0")
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    cps = [l.strip() for l in open(log) if l.startswith(classes)]
    if rc != 0 or not cps:
        die(f"build failed (see {log})")
    open(cp_file, "w").write(cps[-1])
    open(stamp, "w").write(h.hexdigest())
    return cps[-1]


def data_dir(sf):
    d = os.path.join(BUILD, "data", f"sf{sf}")
    if not os.path.isdir(d):
        sys.path.insert(0, HERE)
        import gendata
        os.makedirs(os.path.dirname(d), exist_ok=True)
        gendata.write(float(sf), d)
    return d


def entries_for(workload, seed):
    """The workload's entries in the seed's run order. `tail` draws one entry
    per stratum of `strata_of` consecutive candidates in cost order."""
    w = WORKLOADS[workload]
    rng = random.Random(seed)
    if "strata_of" in w:
        ranked = sorted(w["candidates"], key=lambda e: (w["candidates"][e], e))
        k = w["strata_of"]
        names = [rng.choice(ranked[i:i + k]) for i in range(0, len(ranked) - k + 1, k)]
    else:
        names = list(w["entries"])
    rng.shuffle(names)
    return names


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def oracle_mismatches(sf_dir, check_dir, names):
    """Compare the check pass's dumps with DuckDB through `tools/check.py`,
    which reads the oracle SQL the driver wrote for this run's entries.
    Returns {entry: why} for every entry that did not pass."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf_dir, check_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
    lines = p.stdout.splitlines()
    passed = [l.split()[2:] for l in lines if l.startswith("PASS ")]
    if not passed:
        die(f"tools/check.py gave no verdict (exit {p.returncode}): {p.stderr.strip()[-500:]}")
    fails = dict(l[len("FAIL "):].split(": ", 1) for l in lines if l.startswith("FAIL "))
    return {n: fails.get(n, "not checked") for n in names if n not in passed[0]}


def drive(cp, run, sf_dir, names, cores, passes, trace, cold):
    """Run the JVM driver in a fresh scratch area `run`; returns its result
    and the scratch directories."""
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: os.path.join(run, k) for k in ("tmp", "warehouse", "local", "check")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(run, "result.json")
    cmd = ["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={dirs['tmp']}", "-cp", cp]
    for p in ADD_OPENS:
        cmd[1:1] = ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["graft.perfbench.Driver", f"data={sf_dir}", f"entries={','.join(names)}",
            f"warmup={WORKLOADS['_warmup']}", f"cores={cores}", f"passes={passes}",
            f"check={dirs['check']}", f"cold={int(bool(cold))}", f"trace={trace}",
            f"warehouse={dirs['warehouse']}", f"local={dirs['local']}", f"out={out}",
            f"spans={os.path.join(run, 'spans.json')}", f"launch_ms={int(time.time() * 1000)}"]
    with open(os.path.join(run, "driver.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"driver did not finish within {JVM_LIMIT_S} s (see {run}/driver.log)")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        die(f"driver exited with code {rc} (see {run}/driver.log)")
    return json.load(open(out)), dirs


def host_record(cores):
    return {"nproc": cores, "master": f"local[{cores}]", "xmx": XMX,
            "loadavg_start": os.getloadavg()[0]}


def main():
    # turn SIGTERM into an exit that runs `drive`'s cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(k for k, v in WORKLOADS.items() if isinstance(v, dict) and "sf" in v))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    cp = build()
    w = WORKLOADS[a.workload]
    sf_dir = data_dir(w["sf"])
    names = entries_for(a.workload, a.seed)
    cores = len(os.sched_getaffinity(0))
    host = host_record(cores)

    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    res, dirs = drive(cp, run, sf_dir, names, cores, max(1, round(a.seconds / w["pass_s"])),
                      a.trace, w.get("cold", False))
    host["loadavg_end"] = os.getloadavg()[0]

    failed = {f["entry"]: f"{f['phase']}: {f['class']}" for f in res["failed"]}
    checked = [n for n in names if n not in failed]
    for n, why in oracle_mismatches(sf_dir, dirs["check"], checked).items():
        failed[n] = f"oracle: {why}"
    scratch_mb = sum(dir_bytes(dirs[k]) for k in ("tmp", "warehouse")) / MB
    result_rows = {n: sum(pq.ParquetFile(f).metadata.num_rows
                          for f in glob.glob(os.path.join(dirs["check"], n, "*.parquet")))
                   for n in names if n not in failed}

    passes = [[t for t in p if t["entry"] not in failed] for p in res["passes"]]
    per_entry = {}
    for p in passes:
        for t in p:
            per_entry.setdefault(t["entry"], []).append(t["latency_s"])
    medians = {n: statistics.median(v) for n, v in per_entry.items()}
    if a.trace:
        sums = [{} for _ in passes]
        for s, p in zip(sums, passes):
            for t in p:
                s["operators.construct_s"] = s.get("operators.construct_s", 0) + t["construct_s"]
                s["trace.wall_s"] = s.get("trace.wall_s", 0) + t["latency_s"]
                s["exec.rows_out"] = s.get("exec.rows_out", 0) + result_rows[t["entry"]]
                for k, v in t["layers"].items():
                    s[k] = s.get(k, 0) + v
        metrics = {k: statistics.median(s.get(k, 0.0) for s in sums) if sums else 0.0
                   for k in PER_LAYER}
        scans, builds = metrics["tables.memo_scans"], metrics["tables.memo_builds"]
        metrics["tables.memo_hit_ratio"] = scans / (scans + builds) if scans + builds else 0.0
        metrics["tables.scratch_mb"] = scratch_mb
        metrics["driver.heap_peak_mb"] = res["heap_peak_mb"]
        units = PER_LAYER
    else:
        walls = [sum(t["latency_s"] for t in p) for p in passes]
        metrics = {
            "wall_s": statistics.median(walls) if walls else 0.0,
            "entry_p50_s": statistics.median(medians.values()) if medians else 0.0,
            "ok_frac": 1 - len(failed) / len(names),
            "setup_s": res["ready_s"] + res["warmup_s"]}
        units = END_TO_END

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
              "host": host, "entries": names, "failed": failed, "passes": len(passes),
              "entry_latency_s": medians, "latencies_s": per_entry, "metrics": metrics,
              "run_s": time.time() - started,
              "setup": {"ready_s": res["ready_s"], "warmup_s": res["warmup_s"]},
              "heap_peak_mb": res["heap_peak_mb"],
              "xmx_mb": res["xmx_mb"]}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}")
    json.dump(record, open(stem + ".json", "w"), indent=1)
    if a.trace:
        shutil.copy(os.path.join(run, "spans.json"), stem + ".spans.json")
    shutil.rmtree(run, ignore_errors=True)

    for n, why in failed.items():
        print(f"failed {n}: {why}")
    print("host " + json.dumps(host))
    print(json.dumps({"correct": not failed, "attempted": len(names), "failed": len(failed),
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
