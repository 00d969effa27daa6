#!/usr/bin/env python3
"""Smoke tests of the benchmark itself, on small inputs.

    python3 perfbench/test_smoke.py      # from the repository root

They check that every named end-to-end metric is printed with its unit,
that every correctness check passes, that a corrupted result is counted
as failed by each workload's oracle, and that the traced run prints
every per-layer metric BENCHMARK.json lists.
"""

import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "hello_world_train": {
        "setup_s": "s", "failed_share": "ratio",
        "read_samples_per_s": "1/s", "materialize_rows_per_s": "1/s"},
    "lineitem_selective_read": {
        "setup_s": "s", "failed_share": "ratio",
        "query_s.p50": "s", "query_s.tail": "s"},
    "orders_cdc_cycle": {
        "setup_s": "s", "failed_share": "ratio",
        "cycle_s.p50": "s", "cycle_s.tail": "s", "upsert_s.p50": "s",
        "append_s.p50": "s", "changes_s.p50": "s",
        "snapshot_read_s.p50": "s", "space_amplification": "ratio"},
}
LINE = re.compile(r"^(\S+)  (\S+) = (\S+) (\S+)")


def bench(*extra):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "11",
         "--seconds", "2", "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        m = LINE.match(line)
        if m:
            printed[(m.group(1), m.group(2))] = (float(m.group(3)), m.group(4))
    return json.loads(lines[-1]), printed, r.stdout


class Smoke(unittest.TestCase):
    def test_all_workloads_print_named_metrics_and_pass(self):
        result, printed, out = bench("--workload", "all", "--trace", "0")
        self.assertTrue(result["correct"], out)
        self.assertEqual(result["failed"], 0, out)
        self.assertGreater(result["attempted"], 0)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for w, names in NAMED.items():
            for name, unit in names.items():
                self.assertIn((w, name), printed, f"{w} {name} missing")
                self.assertEqual(printed[(w, name)][1], unit, f"{w} {name}")
            self.assertEqual(printed[(w, "failed_share")][0], 0.0)
            for m in spec["end_to_end"]:
                got = result["metrics"][f"{w}/{m['name']}"]
                self.assertEqual(got["unit"], m["unit"])
                self.assertGreater(got["value"], 0, f"{w} {m['name']}")

    def test_corrupted_result_is_counted_by_every_oracle(self):
        result, printed, out = bench("--workload", "all", "--trace", "0",
                                     "--corrupt")
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], len(NAMED), out)
        for w in NAMED:
            share = printed[(w, "failed_share")][0]
            self.assertGreater(share, 0.0, f"{w} did not count the corruption")

    def test_traced_run_prints_every_layer_metric(self):
        result, printed, out = bench("--workload", "orders_cdc_cycle",
                                     "--trace", "1")
        self.assertTrue(result["correct"], out)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for m in spec["per_layer"]:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])


if __name__ == "__main__":
    unittest.main()
