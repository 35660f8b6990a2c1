#!/usr/bin/env python3
"""The benchmark's own test, on the smoke setting (sf0.001-sized inputs).

Run from the root of a checkout:

    python3 perfbench/test_smoke.py

For every workload it makes three short runs: two traced runs with one
seed and one untraced run with another seed. It asserts that every metric
BENCHMARK.json names prints with its unit, that no op failed, that the two
traced runs agree exactly on the deterministic counts, and that the other
seed changes the op schedule.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, seed, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", "2", "--trace", str(trace), "--smoke"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    report = json.loads(lines[-2][len("report "):])
    return report, json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def check_metrics(self, result, declared):
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for m in declared:
            self.assertIn(m["name"], result["metrics"])
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_workloads(self):
        for w in SPEC["workloads"]:
            name = w["name"]
            with self.subTest(workload=name):
                rep1, traced1 = run(name, 1, 1)
                rep2, traced2 = run(name, 1, 1)
                rep3, plain = run(name, 2, 0)
                for rep in (rep1, rep2, rep3):
                    self.assertEqual(rep["error_rate"], 0)
                    self.assertIsNone(rep["failure"])
                self.check_metrics(plain, SPEC["end_to_end"])
                self.check_metrics(traced1, SPEC["per_layer"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(plain["metrics"][m["name"]]["value"], 0, m["name"])

                # the same seed gives the same schedule and the same counts
                self.assertEqual(rep1["schedule"], rep2["schedule"])
                jobs1 = {k: v.get("spark.jobs") for k, v in rep1["details"]["per_op_type"].items()}
                jobs2 = {k: v.get("spark.jobs") for k, v in rep2["details"]["per_op_type"].items()}
                self.assertTrue(jobs1)
                self.assertEqual(jobs1, jobs2)
                if name == "crossdb_sparse":
                    for k in ("remote_statements_per_diff", "remote_rows_fetched_per_diff"):
                        self.assertEqual(rep1["details"]["workload"][k],
                                         rep2["details"]["workload"][k], k)
                        self.assertGreater(rep1["details"]["workload"][k], 0, k)
                for m in SPEC["per_layer"]:
                    if m["unit"] != "s" and m["name"] not in self.NOT_EXACT:
                        self.assertEqual(traced1["metrics"][m["name"]]["value"],
                                         traced2["metrics"][m["name"]]["value"], m["name"])

                # another seed gives another schedule
                self.assertNotEqual(rep1["schedule"], rep3["schedule"])

    # byte counts of written parquet and shuffle blocks carry write-time
    # metadata, so they can differ by a few bytes between identical runs
    NOT_EXACT = {"layout.fs_bytes_written", "layout.fs_bytes_read", "layout.write_bytes_per_row",
                 "layout.space_amp", "spark.input_bytes",
                 "spark.shuffle_read_bytes", "spark.shuffle_write_bytes"}


if __name__ == "__main__":
    sys.exit(unittest.main(argv=[sys.argv[0], "-v"]))
