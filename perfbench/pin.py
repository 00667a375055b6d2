#!/usr/bin/env python3
"""Pin the expected outputs of every workload query.

Usage: python3 perfbench/pin.py [--cores N ...] [--dump DIR]

For each workload of perfbench/workloads.json and each core count
(default: the cores this process may use), runs the workload's queries
once in a fresh harness JVM, in the order a benchmark run meets them,
fingerprints every result and counts each build's jobs; then writes
perfbench/pinned.json. A query whose fingerprint, or a build whose job
count, differs between core counts is reported and left unpinned (a run
would count it as failed). With --dump, the results of the first core
count are also written as parquet under DIR, with the oracle SQL beside
them, for perfbench/crosscheck.py.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def pin_once(cp, workload, sf, cores, dump):
    work = os.path.join(run.OUT, "work", "pin-%s-%d" % (workload, cores))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--spec", os.path.join(HERE, "workloads.json"), "--workload", workload,
            "--sf", sf, "--cores", str(cores), "--phase", "pin",
            "--out", os.path.join(work, "result.json")]
    if dump:
        args += ["--dump", dump]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = subprocess.run(run.java_command(cp, work) + args, stdout=log, stderr=log,
                            cwd=work).returncode
    if rc != 0:
        sys.exit("pin: harness failed on %s at %d cores (see %s)" % (workload, cores, log.name))
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, nargs="+", default=[len(os.sched_getaffinity(0))])
    ap.add_argument("--dump")
    opts = ap.parse_args()
    cp = build.build()
    spec = run.load("workloads.json")
    sf = run.sf_dir(spec)
    dump = os.path.abspath(opts.dump) if opts.dump else None
    pinned, builds = {}, {}
    before = run.scratch_entries()
    try:
        for workload in spec["workloads"]:
            results = [pin_once(cp, workload, sf, c, dump if i == 0 else None)
                       for i, c in enumerate(opts.cores)]
            for name, jobs in results[0]["builds"].items():
                counts = {r["builds"][name] for r in results}
                if len(counts) != 1:
                    print("pin: build %s runs %s jobs across core counts %s"
                          % (name, sorted(counts), opts.cores))
                else:
                    builds[name] = jobs
            for name, first in results[0]["queries"].items():
                hashes = {r["queries"][name].get("hash") for r in results}
                if "error" in first:
                    print("pin: %s failed: %s" % (name, first["error"]))
                elif len(hashes) != 1:
                    print("pin: %s differs across core counts %s: %s"
                          % (name, opts.cores, sorted(hashes)))
                else:
                    pinned[name] = {"hash": first["hash"], "rows": first["rows"]}
    finally:
        for path in run.scratch_entries() - before:
            shutil.rmtree(path, ignore_errors=True)
    if dump:
        oracle = {}
        for part in glob.glob(os.path.join(dump, "oracle_sql.json.*")):
            with open(part) as f:
                oracle.update(json.load(f))
            os.remove(part)
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
    out = {"sf": os.path.basename(sf), "cores": opts.cores, "builds": builds, "queries": pinned}
    with open(os.path.join(HERE, "pinned.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("pin: %d queries and %d builds pinned" % (len(pinned), len(builds)))


if __name__ == "__main__":
    main()
