"""Tests of tools/bench_diff.py: the failed-query gate, the REAL-vs-noise
min rule, and the per-query jobs/tasks and compile-counter columns.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_diff  # noqa: E402


def bench(queries, mins, failed=0, layers=None):
    d = {"metric": "total", "failed": failed, "queries": queries,
         "min": mins, "errors": {}}
    if layers is not None:
        d["layers"] = layers
    return d


def census(jobs, tasks, codegen=None):
    d = {"construct_s": 0.1, "exec_s": 0.2, "jobs": jobs, "stages": jobs,
         "tasks": tasks, "task_s": 0.3}
    if codegen is not None:
        d["codegen_n"], d["codegen_s"] = codegen
    return d


class BenchDiffTest(unittest.TestCase):
    def diff(self, old, new):
        """Runs bench_diff on two in-memory bench records; returns
        (exit code, stdout)."""
        with tempfile.TemporaryDirectory() as tmp:
            paths = []
            for name, d in (("old.json", old), ("new.json", new)):
                paths.append(os.path.join(tmp, name))
                with open(paths[-1], "w") as f:
                    json.dump(d, f)
            out = io.StringIO()
            argv = sys.argv
            sys.argv = ["bench_diff.py"] + paths
            try:
                with contextlib.redirect_stdout(out), \
                        self.assertRaises(SystemExit) as exit_:
                    bench_diff.main()
            finally:
                sys.argv = argv
        return exit_.exception.code, out.getvalue()

    def test_failed_queries_gate_exit_1(self):
        same = {"a": 1.0}
        code, out = self.diff(bench(same, same, failed=1), bench(same, same))
        self.assertEqual(code, 1)
        self.assertIn("[GATE] old file has failed=1", out)
        code, _ = self.diff(bench(same, same), bench(same, same))
        self.assertEqual(code, 0)

    def test_min_rule_separates_real_from_noise(self):
        old = bench({"real": 1.0, "noisy": 1.0}, {"real": 0.9, "noisy": 0.9})
        # both medians doubled; only "real" also moved its min
        new = bench({"real": 2.0, "noisy": 2.0}, {"real": 1.9, "noisy": 0.95})
        code, out = self.diff(old, new)
        self.assertEqual(code, 1)
        lines = {l.split()[0]: l for l in out.splitlines() if l.strip()}
        self.assertIn("REAL (min regressed too)", lines["real"])
        self.assertIn("noise? (min stable)", lines["noisy"])
        # a stable-min regression alone does not fail the diff
        code, _ = self.diff(bench({"noisy": 1.0}, {"noisy": 0.9}),
                            bench({"noisy": 2.0}, {"noisy": 0.95}))
        self.assertEqual(code, 0)

    def test_census_columns_need_layers_in_both_files(self):
        old = bench({"q": 1.0}, {"q": 0.9})
        new = bench({"q": 2.0}, {"q": 1.9}, layers={"q": census(6, 40)})
        # old-format file (no "layers") against a new-format one: no columns
        _, out = self.diff(old, new)
        self.assertNotIn("jobs", out)
        self.assertIn("REAL", out)
        # both new-format: jobs and tasks old->new beside the regression
        old["layers"] = {"q": census(4, 30)}
        _, out = self.diff(old, new)
        header = next(l for l in out.splitlines() if l.startswith("query"))
        self.assertIn("jobs", header)
        self.assertIn("tasks", header)
        row = next(l for l in out.splitlines() if l.startswith("q "))
        self.assertIn("4->6", row)
        self.assertIn("30->40", row)

    def test_codegen_columns_need_counters_in_both_files(self):
        # old-format census (no compile counters) against a new-format one:
        # jobs/tasks columns only
        old = bench({"q": 1.0}, {"q": 0.9}, layers={"q": census(4, 30)})
        new = bench({"q": 2.0}, {"q": 1.9},
                    layers={"q": census(4, 30, codegen=(212, 2.5))})
        _, out = self.diff(old, new)
        self.assertIn("jobs", out)
        self.assertNotIn("codegen", out)
        # both new-format: classes compiled and compile seconds old->new
        old["layers"] = {"q": census(4, 30, codegen=(0, 0.0))}
        _, out = self.diff(old, new)
        header = next(l for l in out.splitlines() if l.startswith("query"))
        self.assertIn("codegen_n", header)
        self.assertIn("codegen_s", header)
        row = next(l for l in out.splitlines() if l.startswith("q "))
        self.assertIn("4->4", row)
        self.assertIn("0->212", row)
        self.assertIn("0.00->2.50", row)


if __name__ == "__main__":
    unittest.main()
