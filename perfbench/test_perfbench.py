"""Tests for the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py

Run from the repository root; takes about two minutes (two short
benchmark runs plus the generator digests).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = [sys.executable, os.path.join(HERE, "run.py")]
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(*args):
    p = subprocess.run(RUN + list(args), stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    return p.returncode, p.stdout, p.stderr


def digest(workload, seed):
    code, out, err = run("--workload", workload, "--seed", str(seed), "--digest")
    assert code == 0, err
    return out.strip().splitlines()[-1]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in SPEC["workloads"]:
            name = w["name"]
            self.assertEqual(digest(name, 3), digest(name, 3), name)
            self.assertNotEqual(digest(name, 3), digest(name, 4), name)


class OutputTest(unittest.TestCase):
    def names(self, key):
        return {m["name"]: m["unit"] for m in SPEC[key]}

    def test_workloads_are_the_declared_ones(self):
        code, _, err = run("--workload", "nosuch", "--seconds", "1")
        self.assertNotEqual(code, 0)
        listed = re.search(r"one of ([a-z_, ]+)\)", err).group(1).split(", ")
        self.assertEqual(sorted(listed), sorted(w["name"] for w in SPEC["workloads"]))

    def test_traced_run_prints_exactly_the_per_layer_metrics(self):
        code, out, err = run("--workload", "ingest", "--seconds", "1", "--trace", "1")
        self.assertEqual(code, 0, err)
        res = json.loads(out.strip().splitlines()[-1])
        self.assertTrue(res["correct"])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, self.names("per_layer"))

    def test_injected_failure_counts_and_is_not_timed(self):
        code, out, err = run("--workload", "ingest", "--seconds", "1",
                             "--trace", "0", "--inject-fail", "1")
        self.assertEqual(code, 1, err)
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, self.names("end_to_end"))
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        ops = next(l for l in lines if l.startswith("ops:"))
        samples = int(re.search(r"latency_samples=(\d+)", ops).group(1))
        self.assertEqual(samples, res["attempted"] - 1)
        rate = float(re.search(r"fail_rate=([0-9.]+)", ops).group(1))
        self.assertAlmostEqual(rate, 1 / res["attempted"], places=4)
        lat = next(l for l in lines if l.startswith("op latencies"))
        self.assertEqual(lat.count("!"), 1)


if __name__ == "__main__":
    unittest.main()
