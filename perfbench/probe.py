#!/usr/bin/env python3
"""Split probe: classify queries as scan-bound or driver-bound.

    python3 perfbench/probe.py --ops a,b,c [--out perfbench/baseline/split_probe.json]
    python3 perfbench/probe.py --select [--out perfbench/baseline/split_probe.json]

Runs each named query once untimed and once traced at scale factor 0.1
(`perfbench.Harness --kind probe`), records its jobs per execution and
the share of its wall time in which at least one task runs, and
classifies it: `scan` if it launches at most SCAN_MAX_JOBS jobs and
spends at least SCAN_MIN_SHARE of its wall time in tasks, `iterative`
otherwise.

`--select` prints the workload lists that `select` derives from a probe
file. The lists in workloads.json were frozen from
baseline/split_probe.json this way; rerunning the probe does not change
them.
"""
import argparse
import json
import os
import shutil
import statistics
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402
import run  # noqa: E402

SCAN_MAX_JOBS = 8
SCAN_MIN_SHARE = 0.5


def classify(row):
    if "error" in row:
        return "error"
    few = row["jobs"] <= SCAN_MAX_JOBS
    return "scan" if few and row["task_share"] >= SCAN_MIN_SHARE else "iterative"


def nearest_median(rows, n):
    """The n rows nearest their class median in jobs per execution and
    in the share of wall time spent constructing the query, distance
    being the sum of both relative deviations (ties by name)."""
    def share(r):
        return r["construct_s"] / r["sec"]
    jobs = statistics.median(r["jobs"] for r in rows)
    shr = statistics.median(share(r) for r in rows)
    return sorted(rows, key=lambda r: (abs(r["jobs"] / jobs - 1)
                                       + abs(share(r) / shr - 1), r["name"]))[:n]


def select(queries):
    """Workload lists from probe rows: `queries_scan` holds the three
    scan-bound headline queries nearest their class median;
    `queries_iterative` the driver-bound headline query nearest its
    class median, the driver-bound headline query with the most jobs
    (the highest barrier count), and the quickest stream gate query,
    which puts the streaming layer on the declared workload;
    `stream_drains` the three stream gate queries nearest their class
    median. Each list has an odd length, so the median of a run's pooled
    operation latencies falls inside one operation's cluster of times
    rather than on the edge between two."""
    def rows(cls, kind):
        return [r for r in queries if r["class"] == cls and r["set"] == kind]
    scan = rows("scan", "headline")
    iterative = rows("iterative", "headline")
    streams = rows("iterative", "stream_gate")
    return {
        "queries_scan": [r["name"] for r in nearest_median(scan, 3)],
        "queries_iterative": [r["name"] for r in nearest_median(iterative, 1)]
        + [max(iterative, key=lambda r: r["jobs"])["name"],
           min(streams, key=lambda r: r["sec"])["name"]],
        "stream_drains": [r["name"] for r in nearest_median(streams, 3)],
    }


def main():
    ap = argparse.ArgumentParser(description="Classify queries by a traced probe.")
    ap.add_argument("--ops")
    ap.add_argument("--select", action="store_true")
    ap.add_argument("--out", default=os.path.join(run.HERE, "baseline", "split_probe.json"))
    args = ap.parse_args()
    if args.select:
        with open(args.out) as f:
            print(json.dumps(select(json.load(f)["queries"]), indent=1))
        return
    if not args.ops:
        ap.error("--ops or --select is required")
    cp = run.build()
    work = os.path.join(run.ROOT, ".bench_work", f"probe-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        gen_tables.generate(data, run.TABLE_SF, run.TABLE_SEED)
        art = run.harness(cp, work, ["--kind", "probe", "--ops", args.ops, "--data", data,
                                     "--seconds", "0", "--seed", "0"])
        rows = [dict(r, **{"class": classify(r)}) for r in art["probe"]]
        result = {"rule": {"scan_max_jobs": SCAN_MAX_JOBS, "scan_min_task_share": SCAN_MIN_SHARE},
                  "cpus": len(os.sched_getaffinity(0)), "session_conf": art["session_conf"],
                  "health": art["health"], "queries": rows}
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
        for cls in ("scan", "iterative", "error"):
            names = [r["name"] for r in rows if r["class"] == cls]
            print(f"{cls} ({len(names)}): {', '.join(names)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
