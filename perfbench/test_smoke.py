#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, untraced and traced, at
sf0.001 with a small generated corpus and at most three passes. Checks that each
run is correct (no failed op, error_rate 0) and that every end-to-end and
per-layer metric of BENCHMARK.json is emitted with its unit.

    python3 perfbench/test_smoke.py        # from the checkout root; ~5 min
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        lines = run(workload, trace)
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], lines)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        section = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in section})
        for m in section:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
        if trace:
            self.assertEqual(out["metrics"]["error_rate"]["value"], 0.0)
        else:
            table = "\n".join(lines[:-1])
            for name in ("build_s", "append_p50_s", "compact_s", "space_amp",
                         "error_rate"):
                self.assertIn(name, table)
        return out

    def test_sql_mix(self):
        self.check("sql_mix", 0)
        self.check("sql_mix", 1)

    def test_curation_batch(self):
        self.check("curation_batch", 0)
        self.check("curation_batch", 1)

    def test_index_ingest_serve(self):
        out = self.check("index_ingest_serve", 0)
        self.assertGreater(out["metrics"]["throughput_ops_s"]["value"], 0)
        traced = self.check("index_ingest_serve", 1)
        for f in ("bm25", "ivf", "lines", "contam"):
            self.assertGreater(
                traced["metrics"][f"store.append_ms.{f}"]["value"], 0)
        self.assertEqual(traced["metrics"]["store.commit_ok_frac"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
