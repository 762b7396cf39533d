"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))


def span(id, parent, start, end, name="s", trace="p0-q0", attrs=None):
    return {"id": id, "parent": parent, "start": start, "end": end,
            "name": name, "trace": trace, "attrs": attrs or {}}


class MedianAndPercentiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(benchlib.median([7]), 7)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.median([])

    def test_no_tail_percentile_below_100_samples(self):
        self.assertEqual(benchlib.tail_percentiles(list(range(99))), {})

    def test_p90_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 101))
        # rank ceil(0.9 * 100) = 90 leaves samples 91..100 beyond it
        self.assertEqual(benchlib.tail_percentiles(xs), {0.9: 90})

    def test_p99_appears_at_1000_samples(self):
        xs = list(range(1, 1001))
        self.assertEqual(benchlib.tail_percentiles(xs), {0.9: 900, 0.99: 990})

    def test_percentiles_ignore_input_order(self):
        xs = list(range(1, 201))
        self.assertEqual(benchlib.tail_percentiles(xs[::-1]),
                         benchlib.tail_percentiles(xs))


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(benchlib.self_times([span(1, 0, 10, 25)]), {1: 15})

    def test_children_are_subtracted(self):
        got = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30),
                                   span(3, 1, 50, 60)])
        self.assertEqual(got[1], 70)
        self.assertEqual(got[2], 20)

    def test_overlapping_children_count_once(self):
        got = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 10, 40),
                                   span(3, 1, 30, 50)])
        self.assertEqual(got[1], 60)

    def test_child_time_outside_the_parent_is_ignored(self):
        got = benchlib.self_times([span(1, 0, 10, 20), span(2, 1, 5, 15),
                                   span(3, 1, 18, 30)])
        self.assertEqual(got[1], 3)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        got = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50),
                                   span(3, 2, 0, 50)])
        self.assertEqual(got, {1: 50, 2: 0, 3: 50})

    def test_phase_coverage_of_a_tiled_query(self):
        spans = [span(1, 0, 0, 100, "query:q"),
                 span(2, 1, 0, 30, "queries.construct"),
                 span(3, 1, 30, 40, "catalyst.plan"),
                 span(4, 1, 40, 100, "exec")]
        self.assertEqual(benchlib.phase_coverage(spans), 1.0)
        spans[3] = span(4, 1, 40, 90, "exec")
        self.assertAlmostEqual(benchlib.phase_coverage(spans), 0.9)


class Names(unittest.TestCase):
    def test_valid_names(self):
        for n in ["setup_s", "plans.h32.ns_per_row", "exec.core_busy_frac",
                  "tail_panel", "9lives", "a-b.c_d"]:
            self.assertTrue(benchlib.valid_name(n), n)

    def test_invalid_names(self):
        for n in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"]:
            self.assertFalse(benchlib.valid_name(n), n)

    def test_units(self):
        for u in ["ms", "s", "1/s", "count", "%", "MB"]:
            self.assertTrue(benchlib.valid_unit(u), u)
        for u in ["", "a b", "x" * 17]:
            self.assertFalse(benchlib.valid_unit(u), u)

    def test_benchmark_json_follows_the_schema(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            b = json.load(fh)
        names = [w["name"] for w in b["workloads"]]
        for group in ("end_to_end", "per_layer"):
            for m in b[group]:
                names.append(m["name"])
                self.assertTrue(benchlib.valid_unit(m["unit"]), m)
        for n in names:
            self.assertTrue(benchlib.valid_name(n), n)
        self.assertEqual(len(names), len(set(names)))


class RunOrder(unittest.TestCase):
    def test_murmur3_reference_vectors(self):
        self.assertEqual(benchlib.murmur3_32(b"", 0), 0)
        self.assertEqual(benchlib.murmur3_32(b"", 1), 0x514E28B7)
        self.assertEqual(benchlib.murmur3_32(b"hello", 0), 0x248BFA47)
        self.assertEqual(benchlib.murmur3_32(b"The quick brown fox jumps over the lazy dog", 0x9747B28C),
                         0x2FA826CD)

    def test_order_is_a_permutation_fixed_by_the_seed(self):
        names = ["a", "b", "c", "d", "e", "f"]
        self.assertEqual(sorted(benchlib.run_order(names, 3)), names)
        self.assertEqual(benchlib.run_order(names, 3), benchlib.run_order(names, 3))
        self.assertNotEqual(benchlib.run_order(names, 3), benchlib.run_order(names, 4))


def record(passes, threads=4):
    return {"setup_s": [9.0, 1.0, 2.0], "session_build_s": [3.0, 0.1, 0.2],
            "threads": threads, "peak_rss_mb": 900.0, "probes": {"io.scan_s": 0.5},
            "passes": passes}


def a_pass(index, wall, queries, traced=False, cpu=4.0, gc=0.1, io=None):
    return {"index": index, "traced": traced, "wall_s": wall, "cpu_s": cpu, "gc_s": gc,
            "io": io or {"rchar": 100.0, "wchar": 10.0},
            "queries": [{"name": n, "seconds": s} for n, s in queries]}


class Reduction(unittest.TestCase):
    def test_end_to_end_uses_medians_and_raw_order_is_kept(self):
        r = record([a_pass(0, 3.0, [("a", 2.0), ("b", 1.0)]),
                    a_pass(1, 1.0, [("a", 0.6), ("b", 0.4)]),
                    a_pass(2, 2.0, [("a", 1.2), ("b", 0.8)])])
        m = benchlib.end_to_end(r)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["wall_s"], 2.0)
        self.assertEqual(m["query_p50_s"], (0.8 + 1.0) / 2)
        self.assertEqual(m["write_amp"], 0.1)
        self.assertEqual([p["wall_s"] for p in r["passes"]], [3.0, 1.0, 2.0])

    def test_repeated_contended_passes_are_left_out(self):
        slow = a_pass(0, 9.0, [("a", 9.0)])
        slow["retried"] = True
        r = record([slow, a_pass(1, 1.0, [("a", 1.0)]), a_pass(2, 2.0, [("a", 2.0)])])
        self.assertEqual(benchlib.end_to_end(r)["wall_s"], 1.5)
        self.assertEqual(benchlib.end_to_end(r)["query_p50_s"], 1.5)

    def test_per_layer_sums_a_pass_and_attributes_construct_jobs(self):
        spans = [
            span(1, 0, 0, 100, "query:a", "p0-q0"),
            span(2, 1, 0, 40, "queries.construct", "p0-q0"),
            span(3, 1, 40, 50, "catalyst.plan", "p0-q0"),
            span(4, 1, 50, 100, "exec", "p0-q0", {"smj": 2, "exchanges": 3}),
            span(5, 2, 5, 30, "spark.job", "p0-q0"),
            span(6, 4, 55, 95, "spark.job", "p0-q0"),
            span(7, 6, 56, 90, "spark.stage", "p0-q0",
                 {"tasks": 4, "task_s": 2.0, "attempt": 1, "failed_tasks": 1}),
            span(8, 0, 0, 1, "spark.job", ""),  # outside any query: ignored
        ]
        r = record([a_pass(0, 1.0, [("a", 1.0)], traced=True),
                    a_pass(1, 0.8, [("a", 0.8)])])
        m = benchlib.per_layer(r, spans)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertEqual(m["exec.stages"], 1)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertEqual(m["exec.stage_retries"], 1)
        self.assertEqual(m["exec.failed_tasks"], 1)
        self.assertEqual(m["plan.smj"], 2)
        self.assertEqual(m["plan.exchanges"], 3)
        self.assertAlmostEqual(m["queries.construct_s"], 40e-9)
        self.assertAlmostEqual(m["exec.core_busy_frac"], 2.0 / (1.0 * 4))
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.25)
        self.assertEqual(m["session.build_s"], 0.2)
        self.assertEqual(m["io.scan_s"], 0.5)

    def test_per_layer_names_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            declared = {m["name"] for m in json.load(fh)["per_layer"]}
        r = record([a_pass(0, 1.0, [("a", 1.0)], traced=True), a_pass(1, 1.0, [("a", 1.0)])])
        r["probes"] = {n: 1.0 for n in declared
                       if n.startswith("plans.") or n in ("io.scan_s", "core.tokenize_s")}
        self.assertEqual(set(benchlib.per_layer(r, [])), declared)


if __name__ == "__main__":
    unittest.main()
