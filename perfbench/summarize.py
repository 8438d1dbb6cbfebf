#!/usr/bin/env python3
"""Summarize the benchmark's run records under `.bench_build/results/`.

Usage: python3 perfbench/summarize.py [results dir]

Prints, per workload:
  - layer self-time per timed pass, from the span files of traced runs. Each
    instant of an entry's wall is given to the innermost layer active then
    (codegen compile, Catalyst phase, exec stage, sched job, query
    execution, operators construct); time under no span is its own row,
    `uncovered` (`sched.uncovered_s`);
  - the wall per entry-name family (the prefix before the first `_`), from
    the untraced runs;
  - the tracing overhead: traced pass wall against untraced pass wall;
and a note on why each workload exists and which layer metric should move
which end-to-end metric.
"""
import collections
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PRIORITY = ["codegen", "catalyst", "exec", "sched", "query", "operators"]

NOTE = """\
Why each workload exists
  tail       sf0.01, one in three of the 45 light entries (neither heavy nor
             memo-touching) around the catalog's median cost, drawn by the
             seed. Per-entry fixed cost (construction, Catalyst, codegen,
             job launch) dominates; execution-layer changes should leave it
             flat.
  heavy      sf0.1, the entries with the most executor CPU, memos warm. Shuffle,
             join and algorithm rewrites show here; fixed-cost cuts barely
             move it. tables.memo_builds is 0 on every timed pass. Run by
             hand only: it is not in BENCHMARK.json, because its runs did not
             fit the benchmark's time budget with steady figures.
  memo_cold  sf0.01, seven entries that each build their own scratch memos
             or warehouse tables, scratch emptied before every timed pass.
             It measures Tables.scratchRelation's build-and-publish path
             next to heavy's reads.

Which layer metric moves which end-to-end metric
  operators.construct_s, operators.construct_jobs -> wall_s on tail and memo_cold
  tables.* (memo builds, write time, scratch_mb)   -> wall_s on memo_cold
  catalyst.*_s, catalyst.query_executions          -> entry_p50_s on tail
    (analysis done while `fn` builds its DataFrames is in operators.construct_s)
  codegen.compiles, codegen.compile_s              -> entry_p50_s on tail
  sched.jobs/stages/tasks, idle_core_s, uncovered_s -> entry_p50_s, wall_s on tail
  exec.* (run, cpu, gc, shuffle, spill, rows)      -> wall_s, entry_p50_s on heavy
  plan.smj, plan.bhj, plan.exchanges               -> wall_s on heavy
"""


def self_times(spans):
    """Seconds of each layer's self-time, summed over the entries in `spans`."""
    by_entry = collections.defaultdict(list)
    for entry, layer, _name, s, e in spans:
        by_entry[entry].append((layer, s, e))
    total = collections.Counter()
    for items in by_entry.values():
        wall = [(s, e) for layer, s, e in items if layer == "entry"]
        if not wall:
            continue
        lo, hi = wall[0]
        cuts = sorted({lo, hi} | {min(max(t, lo), hi) for _, s, e in items for t in (s, e)})
        for a, b in zip(cuts, cuts[1:]):
            active = {layer for layer, s, e in items if s <= a and e >= b and layer != "entry"}
            owner = next((l for l in PRIORITY if l in active), "uncovered")
            total[owner] += (b - a) / 1e3
    return total


def family(name):
    return name.split("_", 1)[0]


def main():
    results = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(HERE), ".bench_build", "results")
    runs = collections.defaultdict(list)
    for f in sorted(glob.glob(os.path.join(results, "*.json"))):
        if not f.endswith(".spans.json"):
            r = json.load(open(f))
            r["_file"] = f
            runs[r["workload"]].append(r)
    if not runs:
        sys.exit(f"no run records in {results}")
    for wl, rs in sorted(runs.items()):
        plain = [r for r in rs if not r["trace"]]
        traced = [r for r in rs if r["trace"]]
        print(f"== {wl}: {len(plain)} untraced run(s), {len(traced)} traced run(s)")
        if traced:
            acc = collections.Counter()
            for r in traced:
                spans = json.load(open(r["_file"][:-5] + ".spans.json"))
                for k, v in self_times(spans).items():
                    acc[k] += v / max(1, r["passes"]) / len(traced)
            tot = sum(acc.values()) or 1.0
            print("  layer self-time per pass (traced runs)")
            for layer in PRIORITY + ["uncovered"]:
                label = "uncovered (sched.uncovered_s)" if layer == "uncovered" else layer
                print(f"    {label:31s} {acc[layer]:8.3f} s  {100 * acc[layer] / tot:5.1f}%")
        if plain:
            fam = collections.Counter()
            for r in plain:
                for n, v in r["entry_latency_s"].items():
                    fam[family(n)] += v / len(plain)
            tot = sum(fam.values()) or 1.0
            print("  wall per family, median entry latency summed (untraced runs)")
            for f, v in fam.most_common():
                print(f"    {f:12s} {v:8.3f} s  {100 * v / tot:5.1f}%")
        if plain and traced:
            un = statistics.median(r["metrics"]["wall_s"] for r in plain)
            tr = statistics.median(r["metrics"]["trace.wall_s"] for r in traced)
            print(f"  tracing overhead: traced pass {tr:.3f} s vs untraced {un:.3f} s "
                  f"({100 * (tr / un - 1):+.1f}%)")
        print()
    print(NOTE)


if __name__ == "__main__":
    main()
