#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

Run from the repository root:

    python3 graftbench/test_bench.py -v

Each workload runs once untraced, once traced and once with a
deliberately wrong expected output, all with `--tiny` inputs. The test
checks that every metric printed matches BENCHMARK.json by name and
unit, that the correctness check passes on the real outputs and fails on
the wrong expectation, and that the launcher refuses to run where the
engine's sources are missing. Takes a few minutes: every run starts a
JVM.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def launch(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "graftbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def tiny(workload, trace, *extra):
    return launch(["--workload", workload, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--tiny", *extra])


class SpecShape(unittest.TestCase):
    def test_keys_and_limits(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        names = ([w["name"] for w in SPEC["workloads"]] +
                 [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in SPEC["end_to_end"]))


class TinyRuns(unittest.TestCase):
    def assertMatchesSpec(self, res, kind):
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)

    def test_end_to_end_metrics_and_checks(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, res, err = tiny(w, 0)
                self.assertEqual(rc, 0, err[-2000:])
                self.assertMatchesSpec(res, "end_to_end")
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                for k, v in res["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_per_layer_metrics_and_spans(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, res, err = tiny(w, 1)
                self.assertEqual(rc, 0, err[-2000:])
                self.assertMatchesSpec(res, "per_layer")
                self.assertTrue(res["correct"])
                spans = os.path.join(ROOT, ".bench_build", "graftbench",
                                     "spans", f"{w}-seed7-tiny.jsonl")
                with open(spans) as fh:
                    kinds = {json.loads(l)["kind"] for l in fh}
                self.assertTrue({"setup", "pass", "unit" if w == "corpus_batch"
                                 else "batch"} <= kinds, kinds)

    # the checks --break-expected corrupts, by workload: each must fail
    BROKEN = {"fold_stream": ["fold_stream curate:", "fold_stream cdc:"],
              "corpus_batch": ["wire_fanout:", "corpus_batch FAIL "]}

    def test_wrong_expected_output_fails_the_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, res, err = tiny(w, 0, "--break-expected")
                self.assertEqual(rc, 0, err[-2000:])
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], len(self.BROKEN[w]))
                for mark in self.BROKEN[w]:
                    self.assertIn(f"check failed: {mark}", err)

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        try:
            rc, res, _ = launch(["--workload", WORKLOADS[0], "--seed", "1",
                                 "--seconds", "1", "--trace", "0"], cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
