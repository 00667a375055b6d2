#!/usr/bin/env python3
"""Choose each workload's queries from a per-query timing record.

Usage: python3 perfbench/choose.py [RECORD]

RECORD is a `graft.Bench` record with per-query seconds and job counts
(default: bench_full.json at the repository root). For each workload the
population is a set of query modules, read from src/main/scala in
declared order. The rule:

1. sort the population by the record's seconds (then by name) and cut it
   into `strata` contiguous groups of near-equal size;
2. in each group take the three queries nearest its median rank, and of
   those the one whose job count is nearest the group's median job count
   (ties: nearest the median seconds, then name);
3. a query named in `always` replaces the pick of its own group.

The subset then keeps the population's latency distribution (one query
per quantile band) and its jobs per query. Prints, per workload, the
population beside the subset, and the subset as a JSON list in declared
order, to paste into perfbench/workloads.json.
"""
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "relational": {
        "modules": ["Aggregates", "Joins", "RowOps", "Windows", "SetOps", "Scalars",
                    "Extras", "Tpch"],
        "strata": 6, "always": []},
    # every query that drains a stream through Replay: the Streaming module
    # and SubjectOps' retraction bag (its other queries are batch queries)
    "streaming": {
        "modules": ["Streaming", "SubjectOps"],
        "only": lambda name: name.startswith("q_stream_") or name == "q_retraction_bag",
        "strata": 2, "always": ["q_retraction_bag"]},
}
# module order of SparkEntry.all
DECLARED = ["Aggregates", "Joins", "RowOps", "Windows", "SetOps", "Scalars", "Streaming",
            "SubjectOps", "LlmText", "LlmSim", "Sources", "Extras", "Tpch"]


def module_queries(module):
    path = os.path.join(ROOT, "src", "main", "scala", "graft", "queries", module + ".scala")
    with open(path) as f:
        return re.findall(r'"(q[0-9a-z_]+)"\s*->\s*QueryDef\(', f.read())


def pick(pop, secs, jobs, strata, always):
    ranked = sorted(pop, key=lambda q: (secs[q], q))
    n = len(ranked)
    chosen = []
    for i in range(strata):
        group = ranked[i * n // strata:(i + 1) * n // strata]
        forced = [q for q in always if q in group]
        if forced:
            chosen.append(forced[0])
            continue
        mid = (len(group) - 1) / 2
        near = sorted(range(len(group)), key=lambda j: (abs(j - mid), j))[:3]
        med_jobs = statistics.mean(jobs[q] for q in group)
        med_s = statistics.median(secs[q] for q in group)
        chosen.append(min((group[j] for j in near), key=lambda q: (
            abs(jobs[q] - med_jobs), abs(secs[q] - med_s), q)))
    return chosen


def describe(qs, secs, jobs, tasks):
    s = [secs[q] for q in qs]
    qt = statistics.quantiles(s, n=10, method="inclusive")
    return ("n=%3d  seconds: mean %.3f p10 %.3f p50 %.3f p90 %.3f  jobs: mean %.2f p50 %g"
            "  tasks: mean %.2f p50 %g") % (
        len(qs), statistics.mean(s), qt[0], statistics.median(s), qt[8],
        statistics.mean(jobs[q] for q in qs), statistics.median(jobs[q] for q in qs),
        statistics.mean(tasks[q] for q in qs), statistics.median(tasks[q] for q in qs))


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "bench_full.json")
    with open(path) as f:
        rec = json.load(f)
    secs, jobs, tasks = rec["queries"], rec["jobs"], rec["tasks"]
    order = [q for m in DECLARED for q in module_queries(m)]
    for name, w in WORKLOADS.items():
        keep = w.get("only", lambda q: True)
        pop = [q for m in w["modules"] for q in module_queries(m) if keep(q)]
        missing = [q for q in pop if q not in secs]
        if missing:
            sys.exit("choose: %s has no timing for %s" % (os.path.basename(path), missing))
        chosen = pick(pop, secs, jobs, w["strata"], w["always"])
        print("%s (record %s)" % (name, os.path.basename(path)))
        print("  population  " + describe(pop, secs, jobs, tasks))
        print("  subset      " + describe(chosen, secs, jobs, tasks))
        for q in sorted(chosen, key=lambda q: secs[q]):
            print("    %-30s %.3f s  %2d jobs" % (q, secs[q], jobs[q]))
        print("  " + json.dumps(sorted(chosen, key=order.index)))


if __name__ == "__main__":
    main()
