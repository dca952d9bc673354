"""Checks of the benchmark's output contract and of its correctness gate.

    python3 -m unittest discover -s perfbench/tests     (from the repo root)

The parse tests read outputs captured from real runs and parse them as a
consumer of the result does: the last line of standard output is one JSON
object. `test_corrupted_expected_digest_fails_the_run` runs the benchmark
once (about a minute; it builds first if needed) with one expected digest
deliberately altered and asserts that the run fails.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def parse_last_line(stdout):
    """Parse the last line of stdout as JSON."""
    return json.loads(stdout.strip().splitlines()[-1])


def captured(name):
    with open(os.path.join(HERE, "captured", name)) as f:
        return f.read()


class OutputContract(unittest.TestCase):

    def check(self, obj, metrics):
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(obj["correct"], True)
        self.assertIsInstance(obj["attempted"], int)
        self.assertGreaterEqual(obj["attempted"], 1)
        self.assertEqual(obj["failed"], 0)
        self.assertEqual(set(obj["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            got = obj["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"})
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))

    def test_end_to_end_output_of_every_workload_parses(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                obj = parse_last_line(captured(f"{w['name']}.trace0.stdout"))
                self.check(obj, BENCH["end_to_end"])
                for m in BENCH["end_to_end"]:
                    self.assertGreater(obj["metrics"][m["name"]]["value"], 0)

    def test_traced_output_of_every_workload_parses(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                obj = parse_last_line(captured(f"{w['name']}.trace1.stdout"))
                self.check(obj, BENCH["per_layer"])

    def test_build_tool_prefix_is_stripped(self):
        # sbt prefixes a forked program's stdout with "[info] "; the result
        # line must still be found and parse to the same object
        raw = captured("adt_live.trace0.stdout").strip().splitlines()[-1]
        noisy = "[info] welcome to sbt\n[info] " + raw + "\n[success] done\n"
        self.assertEqual(run.result_line(noisy), json.loads(raw))

    def test_no_result_without_a_result_object(self):
        self.assertIsNone(run.result_line("[info] {not json}\n{\"a\": 1}\n"))


class CorrectnessGate(unittest.TestCase):

    def test_corrupted_expected_digest_fails_the_run(self):
        p = subprocess.run(
            [sys.executable, os.path.join(REPO, "perfbench", "run.py"),
             "--workload", "doc_curation", "--seed", "7", "--seconds", "2",
             "--trace", "0", "--corrupt-expected"],
            cwd=REPO, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("MISMATCH", p.stderr)
        self.assertIs(parse_last_line(p.stdout)["correct"], False)


if __name__ == "__main__":
    unittest.main()
