#!/usr/bin/env python3
"""Smoke run of every workload at sf0.001, the benchmark's own test.

    python3 perfbench/test_smoke.py

Each workload runs once untraced and once traced for one second. The test checks the result line's shape against
BENCHMARK.json and that every output check passed.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=900)
    lines = res.stdout.strip().splitlines()
    return res.returncode, lines


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        rc, lines = run(workload, trace)
        self.assertEqual(rc, 0, "\n".join(lines))
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], "\n".join(lines))
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0, "\n".join(lines))
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in want})
        for m in want:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        if not trace:
            for name in ("setup_s", "wall_s", "op_p50_s", "peak_rss_mb"):
                self.assertGreater(out["metrics"][name]["value"], 0)
        self.assertTrue(any(line.startswith("host: cores=") for line in lines))


for _w in [w["name"] for w in SPEC["workloads"]]:
    for _t in (0, 1):
        setattr(Smoke, f"test_{_w.replace('-', '_')}_trace{_t}",
                lambda self, w=_w, t=_t: self.check(w, t))


if __name__ == "__main__":
    unittest.main()
