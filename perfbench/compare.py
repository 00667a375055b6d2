#!/usr/bin/env python3
"""Compare two sets of perfbench records, metric by metric.

Usage: python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records (the JSON files run.py leaves under
.bench_build/perfbench/records/). For every workload and end-to-end
metric of BENCHMARK.json it prints both medians, each side's quartile
spread as a share of its median, and the change against the metric's
bound. Records taken at another core count or scale factor are refused:
timings do not carry across core counts.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def records(d):
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                r = json.load(f)
            if r.get("trace") == 0:
                out.append(r)
    return out


def spread(vs):
    if len(vs) < 2:
        return float("nan")
    q = statistics.quantiles(vs, n=4)
    return (q[2] - q[0]) / statistics.median(vs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = records(sys.argv[1]), records(sys.argv[2])
    stamps = {(r["cpus"], r["sf"]) for r in base + new}
    if len(stamps) != 1:
        sys.exit("compare: refusing records from different core counts or data: %s"
                 % sorted(stamps))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    cpus, sf = stamps.pop()
    print("cpus=%d sf=%s" % (cpus, sf))
    worse = 0
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        for m in metrics:
            a = [r["end_to_end"][m["name"]] for r in base if r["workload"] == w]
            b = [r["end_to_end"][m["name"]] for r in new if r["workload"] == w]
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            verdict = "worse" if change > m["bound"] else "ok"
            worse += verdict == "worse"
            print("%-11s %-12s base %.4f (n=%d, spread %.3f)  new %.4f (n=%d, spread %.3f)"
                  "  worse by %+.1f%% (bound %.0f%%): %s" % (
                      w, m["name"], ma, len(a), spread(a), mb, len(b), spread(b),
                      100 * change, 100 * m["bound"], verdict))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
