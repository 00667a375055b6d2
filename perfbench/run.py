#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

Usage: python3 perfbench/run.py --workload NAME [--seed N] [--seconds S]
                                [--trace 0|1]

Builds the engine and the harness from this checkout (perfbench/build.py),
then runs one workload of perfbench/workloads.json at the sf0.1 test data
(`$SPARK_GRAFT_SF_DIR`, default `~/testdata/sf0.1`) on as many cores as
the process may use. Set-up is sampled in SETUPS fresh JVMs; the last one
also checks every output against perfbench/pinned.json and then runs timed
passes over the workload for `--seconds`, each pass in an order drawn from
`--seed`. The report goes to stdout; its last line is one JSON object with
the end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
Each run also leaves a full record under .bench_build/perfbench/records/
(and, when traced, its spans under .bench_build/perfbench/traces/).
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 2
DEADLINE_S = 170.0
# Where the engine keeps its warehouse, replay inputs, checkpoints and sink
# output (graft.Engine.scratchRoot) and its shuffle and spill files
# (graft.Engine.spillRoot) when tmpfs is writable; otherwise both fall back
# to the JVM's tmpdir, inside the run's work directory. A run removes what
# it created there.
SCRATCH_ROOTS = ["/dev/shm/graft-scratch", "/dev/shm/graft-spill"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class HarnessError(Exception):
    pass


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def pctl(xs, p):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_pctl(n, want=0.9, beyond=10):
    """The highest percentile up to `want` that leaves `beyond` samples
    above it; the median when the samples support no higher one."""
    return max(0.5, min(want, 1.0 - beyond / n))


def scratch_entries():
    return {os.path.join(root, e) for root in SCRATCH_ROOTS if os.path.isdir(root)
            for e in os.listdir(root)}


def sf_dir(spec):
    """The test data directory: $SPARK_GRAFT_SF_DIR, else ~/testdata/<sf>."""
    return os.path.abspath(os.path.expanduser(
        os.environ.get("SPARK_GRAFT_SF_DIR", "~/testdata/" + spec["sf"])))


def java_command(cp, work):
    return (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in JAVA_OPENS] +
            ["-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + work,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join(cp), "graft.perfbench.Harness"])


def run_jvm(cp, args, work, deadline, log):
    """Start one harness JVM; return (seconds to its set-up marker, the
    marker's fields, its output record)."""
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = java_command(cp, work) + ["--out", out] + args
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work, text=True)
    marker = []

    def watch():
        for line in proc.stdout:
            if line.startswith("PERFBENCH_SETUP_DONE"):
                marker.append((time.monotonic() - t0, [float(x) for x in line.split()[1:]]))
    reader = threading.Thread(target=watch, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise HarnessError("harness JVM overran the run deadline")
    finally:
        # also when this process is interrupted or terminated
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reader.join(timeout=5)
    if proc.returncode != 0 or not os.path.isfile(out):
        raise HarnessError("harness JVM exited with code %d" % proc.returncode)
    with open(out) as f:
        rec = json.load(f)
    if not marker:
        raise HarnessError("harness JVM never finished set-up")
    return marker[0][0], marker[0][1], rec


def summarize(spec, pinned, procs):
    """Turn the per-process records into the run's report and metrics."""
    main = procs[-1][2]
    runs = main["runs"]
    lat = [r["build_s"] + r["exec_s"] for r in runs if r["ok"]]
    walls = [p["wall_s"] for p in main["passes"]]
    setups = [ready - check_s for ready, (check_s,), _ in procs]
    attempted = len(runs) + len(main["builds"]) + len(main["checks"])
    failures = []
    for _, _, rec in procs:
        attempted += rec["warmed"]
        failures += ["warm %s: %s" % (e["name"], e["error"]) for e in rec["warm_errors"]]
    failures += ["build %s: %s" % (b["name"], b["error"]) for b in main["builds"] if not b["ok"]]
    failures += ["check %s: got %s, pinned %s" % (c["name"], c["hash"], c["expected"])
                 for c in main["checks"] if not c["ok"]]
    failures += ["oracle %s: pinned output does not match DuckDB" % q
                 for q in spec["queries"] if pinned["queries"].get(q, {}).get("oracle") == "fail"]
    failures += ["run %s (pass %d): %s" % (r["name"], r["pass"], r["error"])
                 for r in runs if not r["ok"]]
    # a build that runs a different number of jobs than when pinned did not
    # start from a fresh warehouse: a harness failure, not a fast build
    for b in main["builds"]:
        want = pinned["builds"].get(b["name"])
        if b["ok"] and b["jobs"] != want:
            failures.append("build %s: %d jobs, pinned %s" % (b["name"], b["jobs"], want))
    if not lat:
        raise HarnessError("no query completed a timed execution")

    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "query_p50_s": (pctl(lat, 0.5), "s"),
    }
    notes = {
        "setup_s": "median of %d set-ups: %s (session %s, warm pass %s)" % (
            len(setups), " ".join("%.3f" % s for s in setups),
            " ".join("%.3f" % rec["session_s"] for _, _, rec in procs),
            " ".join("%.3f" % rec["warm_s"] for _, _, rec in procs)),
        "wall_s": "median of %d timed passes over %d queries" % (len(walls), len(spec["queries"])),
        "query_p50_s": "n=%d" % len(lat),
    }
    # the tail percentile that the samples taken support; not gated, since
    # it can fall to the median when a run takes few samples
    p_tail = tail_pctl(len(lat))
    extra = {"query_p90_s": (pctl(lat, p_tail), "s", "p%g of n=%d" % (round(100 * p_tail, 1), len(lat)))}
    trig = [b["durations"].get("triggerExecution", 0) for b in main["batches"]]
    if trig:
        p_b = tail_pctl(len(trig))
        extra["batch_p50_ms"] = (pctl(trig, 0.5), "ms", "n=%d micro-batches" % len(trig))
        extra["batch_p90_ms"] = (pctl(trig, p_b), "ms", "p%g of n=%d" % (round(100 * p_b, 1), len(trig)))
        rows = sum(b["input_rows"] for b in main["batches"])
        extra["stream_rows_per_s"] = (rows / max(sum(trig), 1) * 1e3, "rows/s",
                                      "%d rows over %d ms of triggers" % (rows, sum(trig)))
    if main["builds"]:
        extra["build_s"] = (sum(b["s"] for b in main["builds"]), "s", ", ".join(
            "%s %.3f s / %d jobs" % (b["name"], b["s"], b["jobs"]) for b in main["builds"]))
    extra["error_rate"] = (len(failures) / attempted, "ratio", "%d of %d attempted" % (len(failures), attempted))
    return e2e, notes, extra, attempted, failures


def layer_metrics(main, procs, cores):
    """Per-layer metrics of a traced run: per timed pass, median over passes."""
    runs = [r for r in main["runs"] if r["ok"]]
    passes = sorted({p["pass"] for p in main["passes"]})
    wall = {p["pass"]: p["wall_s"] for p in main["passes"]}
    batches = main["batches"]

    def per_pass(f):
        return statistics.median([f([r for r in runs if r["pass"] == p], p) for p in passes])

    def total(key):
        return per_pass(lambda rs, p: sum(r[key] for r in rs))

    m = {
        "engine.session_s": (statistics.median([rec["session_s"] for _, _, rec in procs]), "s"),
        "engine.warm_s": (statistics.median([rec["warm_s"] for _, _, rec in procs]), "s"),
        "engine.heap_peak_mb": (max(rec["heap_peak_mb"] for _, _, rec in procs), "MB"),
        "queries.build_s": (total("build_s"), "s"),
        "queries.exec_s": (total("exec_s"), "s"),
        "catalyst.analysis_ms": (total("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (total("optimization_ms"), "ms"),
        "catalyst.planning_ms": (total("planning_ms"), "ms"),
        "catalyst.actions": (total("actions"), "count"),
        "sched.jobs": (total("jobs"), "count"),
        "sched.stages": (total("stages"), "count"),
        "sched.tasks": (total("tasks"), "count"),
        "sched.job_s": (total("job_s"), "s"),
        "sched.outside_jobs_s": (per_pass(lambda rs, p: sum(
            r["build_s"] + r["exec_s"] - r["job_s"] for r in rs)), "s"),
        "sched.scheduler_delay_s": (total("sched_delay_s"), "s"),
        "task.run_s": (total("task_run_s"), "s"),
        "task.cpu_s": (total("task_cpu_s"), "s"),
        "task.gc_s": (total("task_gc_s"), "s"),
        "task.busy_frac": (per_pass(lambda rs, p: sum(r["task_run_s"] for r in rs) /
                                    (wall[p] * cores)), "ratio"),
        "io.scan_bytes": (total("scan_bytes"), "bytes"),
        "io.output_bytes": (total("output_bytes"), "bytes"),
        "io.spill_bytes": (total("spill_bytes"), "bytes"),
        "shuffle.write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (total("shuffle_read_bytes"), "bytes"),
        "shuffle.fetch_wait_s": (total("fetch_wait_s"), "s"),
        "trace.wall_s": (statistics.median(wall.values()), "s"),
    }
    if batches:
        def bsum(f):
            return statistics.median([sum(f(b) for b in batches if b["pass"] == p) for p in passes])

        def state_peak(key):
            # state size: the last batch of each stream holds its final size
            def one(p):
                last = {}
                for b in batches:
                    if b["pass"] == p:
                        last[b["stream"]] = b[key]
                return sum(last.values())
            return statistics.median([one(p) for p in passes])
        stream_q = {b["query"] for b in batches}
        m.update({
            "stream.batches": (bsum(lambda b: 1), "count"),
            "stream.input_rows": (bsum(lambda b: b["input_rows"]), "count"),
            "stream.trigger_ms": (bsum(lambda b: b["durations"].get("triggerExecution", 0)), "ms"),
        })
        for phase in ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                      "walCommit", "commitOffsets"]:
            key = "stream." + "".join("_" + c.lower() if c.isupper() else c for c in phase) + "_ms"
            m[key] = (bsum(lambda b, ph=phase: b["durations"].get(ph, 0)), "ms")
        m["stream.state_rows"] = (state_peak("state_rows"), "count")
        m["stream.state_mem_bytes"] = (state_peak("state_mem_bytes"), "bytes")
        m["stream.state_commit_ms"] = (bsum(lambda b: b["state_commit_ms"]), "ms")
        m["stream.outside_trigger_ms"] = (per_pass(lambda rs, p: 1e3 * sum(
            r["build_s"] for r in rs if r["name"] in stream_q) - sum(
            b["durations"].get("triggerExecution", 0) for b in batches if b["pass"] == p)), "ms")
    for b in main["builds"]:
        m["build.%s_s" % b["name"]] = (b["s"], "s")
    if main["builds"]:
        m["build.jobs"] = (sum(b["jobs"] for b in main["builds"]), "count")
        m["build.outside_jobs_s"] = (sum(b["outside_jobs_s"] for b in main["builds"]), "s")
    return m


def query_table(main):
    """Per query, the median over timed passes of each column."""
    cols = ["wall_s", "build_s", "plan_ms", "exec_s", "jobs", "tasks", "task_s", "outside_jobs_s"]
    by = {}
    for r in main["runs"]:
        if not r["ok"]:
            continue
        row = {"wall_s": r["build_s"] + r["exec_s"], "build_s": r["build_s"],
               "plan_ms": r["analysis_ms"] + r["optimization_ms"] + r["planning_ms"],
               "exec_s": r["exec_s"], "jobs": r["jobs"], "tasks": r["tasks"],
               "task_s": r["task_run_s"],
               "outside_jobs_s": r["build_s"] + r["exec_s"] - r["job_s"]}
        by.setdefault(r["name"], []).append(row)
    table = {q: {c: statistics.median([x[c] for x in rows]) for c in cols}
             for q, rows in by.items()}
    return cols, dict(sorted(table.items(), key=lambda kv: -kv[1]["wall_s"]))


def latest_record(workload, cores, sf, trace):
    d = os.path.join(OUT, "records")
    best = None
    for name in os.listdir(d) if os.path.isdir(d) else []:
        try:
            with open(os.path.join(d, name)) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if (r.get("workload"), r.get("cpus"), r.get("sf"), r.get("trace")) == (workload, cores, sf, trace):
            if best is None or r["time"] > best["time"]:
                best = r
    return best


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    opts = ap.parse_args()
    # on SIGTERM, unwind so the harness JVM and the scratch entries go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    sys.path.insert(0, HERE)
    import build
    cp = build.build()
    # the first run of a checkout also compiles; the deadline covers the JVMs
    deadline = time.monotonic() + DEADLINE_S

    spec_all = load("workloads.json")
    if opts.workload not in spec_all["workloads"]:
        sys.exit("perfbench: unknown workload %s" % opts.workload)
    spec = spec_all["workloads"][opts.workload]
    pinned = load("pinned.json")
    sf = sf_dir(spec_all)
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        sys.exit("perfbench: test data not found at %s" % sf)
    if os.path.basename(sf) != pinned["sf"]:
        sys.exit("perfbench: outputs are pinned at %s, not %s" % (pinned["sf"], sf))
    cores = len(os.sched_getaffinity(0))

    run_dir = os.path.join(OUT, "work", "%s-%d" % (opts.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = scratch_entries()
    procs = []
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            for i in range(SETUPS):
                phase = "main" if i == SETUPS - 1 else "setup"
                args = ["--spec", os.path.join(HERE, "workloads.json"),
                        "--pinned", os.path.join(HERE, "pinned.json"),
                        "--workload", opts.workload, "--sf", sf,
                        "--cores", str(cores), "--seed", str(opts.seed),
                        "--seconds", str(opts.seconds), "--trace", str(opts.trace),
                        "--phase", phase]
                # a fresh warehouse, local dir and tmpdir for every JVM
                procs.append(run_jvm(cp, args, os.path.join(run_dir, str(i)), deadline, log))
        e2e, notes, extra, attempted, failures = summarize(spec, pinned, procs)
    except HarnessError as e:
        sys.exit("perfbench: %s (log: %s)" % (e, os.path.join(run_dir, "jvm.log")))
    finally:
        for path in scratch_entries() - before:
            shutil.rmtree(path, ignore_errors=True)

    main_rec = procs[-1][2]
    query_walls = {}
    for r in main_rec["runs"]:
        if r["ok"]:
            query_walls.setdefault(r["name"], []).append(r["build_s"] + r["exec_s"])
    record = {"workload": opts.workload, "seed": opts.seed, "cpus": cores, "sf": sf,
              "trace": opts.trace, "seconds": opts.seconds, "time": time.time(),
              "end_to_end": {k: v[0] for k, v in e2e.items()},
              "pass_walls": [p["wall_s"] for p in main_rec["passes"]],
              "query_walls": {q: statistics.median(v) for q, v in query_walls.items()},
              "extra": {k: v[0] for k, v in extra.items()},
              "failures": failures, "attempted": attempted}
    print("perfbench workload=%s cpus=%d sf=%s seed=%d trace=%d seconds=%g" % (
        opts.workload, cores, sf, opts.seed, opts.trace, opts.seconds))
    for k, (v, unit) in e2e.items():
        print("  %-22s %12s %-7s %s" % (k, fmt(v), unit, notes[k]))
    for k, (v, unit, note) in extra.items():
        print("  %-22s %12s %-7s %s" % (k, fmt(v), unit, note))
    for f in failures:
        print("  FAILED %s" % f)

    bench = load("../BENCHMARK.json")
    if opts.trace:
        layers = layer_metrics(main_rec, procs, cores)
        cols, table = query_table(main_rec)
        record["per_layer"] = {k: v[0] for k, v in layers.items()}
        record["queries"] = table
        print("  per-layer (per timed pass, median of %d passes):" % len(main_rec["passes"]))
        for k, (v, unit) in layers.items():
            print("    %-28s %14s %s" % (k, fmt(v), unit))
        untraced = latest_record(opts.workload, cores, sf, 0)
        if untraced:
            over = e2e["wall_s"][0] - untraced["end_to_end"]["wall_s"]
            record["tracing_overhead_s"] = over
            print("  tracing overhead: traced wall_s %.4f - untraced wall_s %.4f = %+.4f s" % (
                e2e["wall_s"][0], untraced["end_to_end"]["wall_s"], over))
        else:
            print("  tracing overhead: no untraced record of this workload at %d cpus yet" % cores)
        single = main_rec.get("single_core")
        if single:
            trig = sum(b["durations"].get("triggerExecution", 0) for b in single["batches"])
            record["single_core"] = {"wall_s": single["wall_s"], "trigger_ms": trig}
            print("  single-core pass (local[1], one pass, declared order): wall_s %.4f "
                  "(%.2fx the %d-core median pass), trigger_ms %d" % (
                      single["wall_s"], single["wall_s"] / e2e["wall_s"][0], cores, trig))
        print("  per-query (median over timed passes, by wall):")
        print("    %-34s " % "query" + " ".join("%10s" % c for c in cols))
        for q, row in table.items():
            print("    %-34s " % q + " ".join("%10s" % fmt(round(row[c], 4)) for c in cols))
        trace_dir = os.path.join(OUT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, "%s-seed%d-%d.json" % (opts.workload, opts.seed, int(time.time())))
        with open(trace_file, "w") as f:
            json.dump({"workload": opts.workload, "cpus": cores, "sf": sf, "seed": opts.seed,
                       "spans": main_rec.get("spans", [])}, f)
        print("  spans: %s" % os.path.relpath(trace_file, ROOT))
        metrics = {m["name"]: {"value": layers[m["name"]][0], "unit": layers[m["name"]][1]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": e2e[m["name"]][1]}
                   for m in bench["end_to_end"]}

    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, "%s-trace%d-seed%d-%d.json" % (
            opts.workload, opts.trace, opts.seed, int(time.time() * 1000))), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
