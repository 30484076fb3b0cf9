"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The decorator and planted-failure tests build the program with sbt on
first use and start JVMs, so they take a minute or two.
"""

import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _tree(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_files(self):
        for make in (lambda s: gen.lint(s)[0],
                     lambda s: gen.files_of(gen.deploy(s)),
                     lambda s: gen.files_of(gen.bootstrap(s))):
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                gen.write(a, make(7))
                gen.write(b, make(7))
                self.assertEqual(_tree(a), _tree(b))
            self.assertNotEqual(make(7), make(8))

    def test_lint_plants_every_shape(self):
        files, planted = gen.lint(3)
        self.assertEqual(len(planted), gen.LINT_MIGRATIONS)
        names = {n.split("_", 1)[1].rsplit("_", 1)[0] for n in files}
        self.assertEqual(names, {s[0] for s in gen.LINT_SHAPES})
        ups = [n for n in files if n.endswith(".up.sql")]
        self.assertEqual(sorted(n[1:5] for n in ups), sorted(planted))

    def test_derby_files_hold_one_statement(self):
        for _, up, down in gen.deploy(5):
            self.assertNotIn(";", up)
            self.assertNotIn(";", down)


class CheckTest(unittest.TestCase):
    planted = {"0001": [], "0002": ["drop-table", "rename"]}

    def lint_json(self, rows):
        return "log line\n" + json.dumps([
            {"version": v, "name": "n", "max_severity": "LOW",
             "findings": [{"rule": r} for r in rules]}
            for v, rules in rows])

    def test_analyze(self):
        good = self.lint_json([("0001", []), ("0002", ["rename", "drop-table"])])
        self.assertIsNone(check.analyze(0, good, self.planted))
        for bad in ([("0001", []), ("0002", ["drop-table"])],
                    [("0001", ["rename"]), ("0002", ["drop-table", "rename"])],
                    [("0002", ["drop-table", "rename"])],
                    [("0001", []), ("0001", []),
                     ("0002", ["drop-table", "rename"])]):
            self.assertIsNotNone(check.analyze(0, self.lint_json(bad),
                                               self.planted), bad)
        self.assertIsNotNone(check.analyze(1, good, self.planted))
        self.assertIsNotNone(check.analyze(0, "no json", self.planted))

    def test_apply_and_rollback(self):
        self.assertIsNone(check.apply(0, "x\napplied 3, skipped 6\n", 3, 6))
        self.assertIsNotNone(check.apply(0, "applied 2, skipped 7\n", 3, 6))
        self.assertIsNotNone(check.apply(1, "applied 3, skipped 6\n", 3, 6))
        self.assertIsNone(check.rollback(0, "rolled back 2\n", 2))
        self.assertIsNotNone(check.rollback(0, "rolled back 1\n", 2))

    def test_status(self):
        def doc(applied, pending, drift=""):
            return json.dumps({
                "applied": [{"version": v, "drift": drift} for v in applied],
                "pending": [{"version": v} for v in pending]})
        self.assertIsNone(check.status(0, doc(["1", "2"], ["3"]),
                                       ["2", "1"], ["3"]))
        self.assertIsNotNone(check.status(0, doc(["1"], ["2", "3"]),
                                          ["1", "2"], ["3"]))
        self.assertIsNotNone(check.status(0, doc(["1", "2"], []),
                                          ["1", "2"], ["3"]))
        self.assertIsNotNone(check.status(
            0, doc(["1", "2"], ["3"], "checksum_drift"), ["1", "2"], ["3"]))


class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()

    def test_decorators_are_transparent(self):
        with tempfile.TemporaryDirectory() as tmp:
            r = subprocess.run(run.jvm(run.java_prefix(), tmp) +
                               ["perfbench.SelfTest"], capture_output=True,
                               text=True, cwd=tmp)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("ok:", r.stdout)

    def test_planted_failure_is_counted(self):
        # the first rep checks a truncated copy of its output; --seconds
        # leaves room for a second, clean rep
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "lint", "--seed", "1", "--seconds", "60", "--trace", "0",
             "--plant-failure"], capture_output=True, text=True,
            cwd=os.path.dirname(HERE))
        self.assertNotEqual(r.returncode, 0)
        last = json.loads(r.stdout.splitlines()[-1])
        self.assertEqual((last["correct"], last["failed"]), (False, 1))
        with open(os.path.join(run.OUT, "lint-seed1-trace0.json")) as fh:
            reps = json.load(fh)["reps"]
        self.assertGreaterEqual(len(reps), 2)
        self.assertAlmostEqual(last["metrics"]["wall_s"]["value"],
                               statistics.median(rep[0]["wall"]
                                                 for rep in reps[1:]))


if __name__ == "__main__":
    unittest.main()
