#!/usr/bin/env python3
"""Paired parent/change runner.

    python3 perfbench/paired.py --parent <checkout> --change <checkout>
        [--workload <name> ...]

Both checkouts must contain this benchmark (BENCHMARK.json and
perfbench/). For each workload it runs stats.MIN_PAIRS (10) pairs of
runs of BENCHMARK.json's `run_seconds`; pair i uses seed 1 + i on both
sides, and the side that runs first alternates from pair to pair so
drift on the host falls on both sides equally. For each
end-to-end metric it reports each side's median and quartiles and a
verdict (see stats.paired_verdict): a gain needs the change to win 9 of
every 10 pairs by more than the parent's interquartile range, a loss
beyond the metric's bound is a regression, and a metric whose spread
exceeds its bound on either side is unresolved. Failed operations are
summed per side, and a gain becomes "no change" when the change fails
more of them. The report is printed as JSON.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True,
                       timeout=1200)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: {workload} seed {seed} exited {p.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description="Paired parent/change benchmark runs.")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    report = {}
    for wl in workloads:
        sides = {"parent": [], "change": []}
        for i in range(stats.MIN_PAIRS):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run_one(getattr(args, side), wl, 1 + i, bench["run_seconds"])
                sides[side].append(res)
                print(f"[paired] {wl} pair {i} {side}: failed={res['failed']}",
                      file=sys.stderr, flush=True)
        failed = {s: sum(r["failed"] for r in rs) for s, rs in sides.items()}
        metrics = {}
        for m in bench["end_to_end"]:
            name = m["name"]
            vals = {s: [r["metrics"][name]["value"] for r in rs] for s, rs in sides.items()}
            row = {}
            for s, xs in vals.items():
                q1, med, q3 = stats.quartiles(xs)
                row[s] = {"median": med, "q1": q1, "q3": q3, "values": xs}
            verdict = stats.paired_verdict(
                vals["parent"], vals["change"], m["better"], m["bound"])
            # a gain does not count when the change fails more operations
            if verdict == "improvement" and failed["change"] > failed["parent"]:
                verdict = "no change"
            row["verdict"] = verdict
            metrics[name] = row
        report[wl] = {"pairs": stats.MIN_PAIRS, "failed": failed,
                      "attempted": {s: sum(r["attempted"] for r in rs) for s, rs in sides.items()},
                      "metrics": metrics}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
