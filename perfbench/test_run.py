#!/usr/bin/env python3
"""Tests for run.py's output handling, on output captured from real runs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

captured/java.txt is the stdout of a `curation` run of the harness
launched with `java`, the way run.py launches it (`--trace 0`);
captured/sbt_runmain.txt is the stdout of a traced `curation` run
(`--trace 1`) launched through `sbt runMain` with a forked JVM, which
prefixes every forked stdout line with `[info] `.
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

CAPTURED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "captured")


def captured(name):
    with open(os.path.join(CAPTURED, name)) as fh:
        return fh.read()


class ParseResult(unittest.TestCase):
    def check(self, result):
        for key in ("workload", "attempted", "failed", "errors", "fingerprints", "info", "metrics"):
            self.assertIn(key, result)
        for m in result["metrics"].values():
            self.assertIsInstance(m["value"], float)
            self.assertTrue(m["unit"])

    def test_sbt_prefixed_capture_parses(self):
        text = captured("sbt_runmain.txt")
        self.assertTrue(any(l.startswith("[info] " + run.MARKER) for l in text.splitlines()))
        self.check(run.parse_result(text))

    def test_java_capture_parses(self):
        self.check(run.parse_result(captured("java.txt")))

    def test_prefix_does_not_change_the_result(self):
        plain = captured("java.txt")
        prefixed = "\n".join("[info] " + l for l in plain.splitlines())
        self.assertEqual(run.parse_result(plain), run.parse_result(prefixed))

    def test_last_result_line_wins(self):
        a = run.MARKER + json.dumps({"n": 1})
        b = "[info] " + run.MARKER + json.dumps({"n": 2})
        self.assertEqual(run.parse_result("\n".join([a, "log line", b, "[success] done"]))["n"], 2)

    def test_missing_result_is_an_error(self):
        with self.assertRaises(ValueError):
            run.parse_result("[info] welcome to sbt\n[error] boom\n")


class Report(unittest.TestCase):
    """run.py's whole result handling on captured output: the last stdout
    line it prints is what a benchmark runner parses."""

    def spec(self):
        with open(os.path.join(os.path.dirname(run.BENCH_DIR), "BENCHMARK.json")) as fh:
            return json.load(fh)

    def final_line(self, name, trace):
        wanted = self.spec()["per_layer" if trace else "end_to_end"]
        line = json.dumps(run.report("curation", captured(name), wanted))
        return wanted, json.loads(line)

    def check(self, wanted, got):
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(got["correct"], True)
        self.assertEqual(got["failed"], 0)
        self.assertIsInstance(got["attempted"], int)
        self.assertGreaterEqual(got["attempted"], 1)
        self.assertEqual(list(got["metrics"]), [m["name"] for m in wanted])
        for m in wanted:
            self.assertEqual(set(got["metrics"][m["name"]]), {"value", "unit"})
            self.assertEqual(got["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(got["metrics"][m["name"]]["value"], (int, float))

    def test_untraced_java_capture_gives_end_to_end_metrics(self):
        self.check(*self.final_line("java.txt", trace=False))

    def test_traced_sbt_capture_gives_per_layer_metrics(self):
        self.check(*self.final_line("sbt_runmain.txt", trace=True))

    def test_wrong_fingerprint_is_counted_as_failed(self):
        text = captured("java.txt").replace("rows=4975 ", "rows=4974 ")
        wanted = self.spec()["end_to_end"]
        got = run.report("curation", text, wanted)
        self.assertIs(got["correct"], False)
        self.assertEqual(got["failed"], 1)

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(ValueError):
            run.report("curation", captured("java.txt"), [{"name": "no_such_metric", "unit": "s"}])


class CheckOutputs(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.EXPECTED_DIR, "curation.json")) as fh:
            self.expected = json.load(fh)
        self.name = sorted(self.expected)[0]

    def test_matching_outputs_pass(self):
        self.assertEqual(run.check_outputs("curation", {"fingerprints": dict(self.expected), "errors": {}}), [])

    def test_wrong_output_fails(self):
        got = dict(self.expected, **{self.name: "rows=0"})
        self.assertEqual(run.check_outputs("curation", {"fingerprints": got, "errors": {}}), [self.name])

    def test_output_of_a_failed_call_is_not_counted_twice(self):
        got = {n: v for n, v in self.expected.items() if n != self.name}
        self.assertEqual(run.check_outputs("curation", {"fingerprints": got, "errors": {self.name: "boom"}}), [])
        self.assertEqual(run.check_outputs("curation", {"fingerprints": got, "errors": {}}), [self.name])


class CommandOutsideCheckout(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        """In a directory holding only BENCHMARK.json and perfbench/ the
        command exits non-zero and prints no result."""
        import shutil
        import tempfile
        root = os.path.dirname(run.BENCH_DIR)
        os.makedirs(run.BUILD_DIR, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.BUILD_DIR) as d:
            shutil.copy(os.path.join(root, "BENCHMARK.json"), d)
            shutil.copytree(run.BENCH_DIR, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "elt_ops",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
