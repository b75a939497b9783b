#!/usr/bin/env python3
"""The benchmark's output stays machine-readable under a comma-decimal
JVM locale (de_DE formats 1.5 as "1,5").

Usage: python3 perfbench/tests/test_locale.py      (from the repository root)

Runs one short traced run of tpch_sql with the driver JVM in de_DE,
then parses the driver's raw JSON (run.py fails if it cannot) and the
final stdout line.
"""
import contextlib
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


class CommaLocaleTest(unittest.TestCase):
    def test_output_parses_under_de_DE(self):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run.main(["--workload", "tpch_sql", "--seed", "7", "--seconds", "1",
                      "--trace", "1"],
                     jvm_flags=["-Duser.language=de", "-Duser.country=DE"])
        lines = buf.getvalue().strip().splitlines()
        env = json.loads(lines[0].split(" ", 1)[1])
        self.assertEqual(env["jvm_locale"], "de_DE")
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        for name, m in last["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        # a value below 1 with a fractional part proves '.' was parsed
        self.assertTrue(0 < last["metrics"]["exec.busy_ratio"]["value"] < 1)


if __name__ == "__main__":
    unittest.main()
