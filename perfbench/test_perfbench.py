#!/usr/bin/env python3
"""The benchmark's own test: BENCHMARK.json's shape, and one tiny run of
every workload, untraced and traced, whose output must follow the result
contract and name exactly the declared metrics.

Run from the root of a checkout:  python3 perfbench/test_perfbench.py
(about four minutes: every run starts its own JVM).
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RECORD_KEYS = {"workload", "seed", "nproc", "master", "sf", "edges", "json_bytes",
               "standin_delay_ms", "commit", "source_digest", "sweeps", "rounds", "queries",
               "reference_cores", "host_probe_s"}


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, cwd=ROOT):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--size", "tiny"], cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    return r.returncode, r.stdout.strip().splitlines()


class BenchmarkJson(unittest.TestCase):
    def test_shape(self):
        b = bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        names += [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))


class TinyRuns(unittest.TestCase):
    def check(self, workload, trace):
        b = bench()
        code, lines = run(workload, trace)
        self.assertEqual(code, 0, lines[-5:])
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], record.get("errors"))
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = b["per_layer"] if trace else b["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        self.assertTrue(RECORD_KEYS <= set(record), RECORD_KEYS - set(record))
        self.assertEqual(record["workload"], workload)
        self.assertEqual(record["sf"], "sf0.001")

    def test_workloads(self):
        for w in bench()["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)

    def test_fails_without_sources(self):
        d = os.path.join(ROOT, ".bench_build", "perfbench", "bare-%d" % os.getpid())
        os.makedirs(d)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, lines = run(bench()["workloads"][0]["name"], 0, cwd=d)
            self.assertNotEqual(code, 0)
            self.assertFalse(any(l.startswith("{") for l in lines), lines)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
