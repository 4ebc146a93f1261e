"""The frozen workload lists follow the selection rule applied to the
recorded split probe.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import probe  # noqa: E402


def row(name, jobs, construct_s, sec=1.0, cls="iterative", kind="headline"):
    return {"name": name, "jobs": jobs, "construct_s": construct_s, "sec": sec,
            "class": cls, "set": kind}


class SelectionTest(unittest.TestCase):
    def test_workload_lists_match_the_recorded_probe(self):
        with open(os.path.join(HERE, "baseline", "split_probe.json")) as f:
            selected = probe.select(json.load(f)["queries"])
        with open(os.path.join(HERE, "workloads.json")) as f:
            workloads = json.load(f)["workloads"]
        for name, ops in selected.items():
            self.assertEqual(workloads[name]["ops"], ops, name)

    def test_nearest_median_weighs_jobs_and_construction_share(self):
        rows = [row("a", 10, 0.5), row("b", 10, 0.1), row("c", 40, 0.5),
                row("d", 12, 0.4), row("e", 8, 0.55)]
        # medians: 10 jobs, construction share 0.5
        self.assertEqual([r["name"] for r in probe.nearest_median(rows, 2)], ["a", "e"])

    def test_iterative_keeps_the_highest_barrier_query_and_a_stream(self):
        queries = [row("m1", 10, 0.3), row("m2", 11, 0.3), row("far", 30, 0.9),
                   row("big", 70, 0.1),
                   row("s1", 8, 0.9, sec=2.0, kind="stream_gate"),
                   row("s2", 8, 0.9, sec=1.0, kind="stream_gate"),
                   row("s3", 9, 0.9, sec=3.0, kind="stream_gate"),
                   row("k1", 4, 0.1, cls="scan"), row("k2", 5, 0.1, cls="scan"),
                   row("k3", 5, 0.1, cls="scan"), row("k4", 6, 0.1, cls="scan")]
        sel = probe.select(queries)
        self.assertEqual(sel["queries_iterative"], ["m2", "big", "s2"])
        self.assertEqual(sorted(sel["queries_scan"]), ["k1", "k2", "k3"])
        self.assertEqual(len(sel["stream_drains"]), 3)


if __name__ == "__main__":
    unittest.main()
