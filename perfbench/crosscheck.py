#!/usr/bin/env python3
"""Cross-check the pinned outputs against the DuckDB oracles, once.

Usage: python3 perfbench/pin.py --dump DIR
       python3 perfbench/crosscheck.py DIR

Compares every dumped result that has an oracle with DuckDB over the same
test data, through tools/t2.py (its canonicalization: columns sorted by
name, floats rounded to 6 places, rows sorted), and records the verdict
as `oracle` ("pass", "fail" or "none") beside each pinned hash. A run
counts a query whose verdict is "fail" as failed.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    dump = os.path.abspath(sys.argv[1])
    path = os.path.join(HERE, "pinned.json")
    with open(path) as f:
        pinned = json.load(f)
    sf = run.sf_dir(run.load("workloads.json"))
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "t2.py"), sf, dump],
                         capture_output=True, text=True)
    verdict = {}
    for line in res.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m and m.group(2) in oracle:
            verdict[m.group(2)] = m.group(1).lower()
            if m.group(1) == "FAIL":
                print(line)
    for name, entry in pinned["queries"].items():
        entry["oracle"] = verdict.get(name, "fail" if name in oracle else "none")
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    counts = {}
    for entry in pinned["queries"].values():
        counts[entry["oracle"]] = counts.get(entry["oracle"], 0) + 1
    print("crosscheck: %s" % ", ".join("%s %d" % kv for kv in sorted(counts.items())))


if __name__ == "__main__":
    main()
