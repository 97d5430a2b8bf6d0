"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import math
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_median_agrees_with_statistics(self):
        xs = [0.3, 0.9, 0.1, 0.5, 0.7]
        self.assertAlmostEqual(stats.percentile(xs, 50), statistics.median(xs))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailRuleTest(unittest.TestCase):
    def test_beyond_counts_samples_above_the_rank(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(100, 95), 5)
        self.assertEqual(stats.beyond(11, 0), 10)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1001), 99.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(201), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(91), 75.0)
        self.assertEqual(stats.tail_percentile(41), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_tail_takes_the_highest_percentile_the_samples_allow(self):
        xs = [float(i) for i in range(100)]
        p, v = stats.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, 89.1)
        p, v = stats.tail(xs[:91])
        self.assertEqual(p, 75.0)
        self.assertAlmostEqual(v, 67.5)
        p, v = stats.tail(xs[:20])
        self.assertEqual(p, 50.0)
        self.assertAlmostEqual(v, 9.5)

    def test_tail_refuses_too_few_samples(self):
        self.assertEqual(stats.tail([float(i) for i in range(19)]), (None, None))
        self.assertEqual(stats.tail([]), (None, None))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertAlmostEqual(stats.union_length([(2, 3), (0, 10)]), 10.0)

    def test_union_ignores_empty_and_inverted(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0.0)

    def test_clip(self):
        self.assertEqual(stats.clip([(0, 5), (6, 9), (-3, -1)], 1, 7), [(1, 5), (6, 7)])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]), 5.0)

    def test_children_outside_the_span_do_not_count(self):
        self.assertAlmostEqual(stats.self_time((0, 1), [(2, 3)]), 1.0)

    def test_fully_covered_span_has_no_self_time(self):
        self.assertEqual(stats.self_time((1, 2), [(0, 3)]), 0.0)

    def _run(self, spans, **extra):
        run = {"spans": spans, "state": {}, "gc_s": 0.0, "heap_peak_mb": 1.0}
        run.update(extra)
        return run

    def _span(self, i, parent, op, layer, name, t0, t1, **attrs):
        return {"id": i, "parent": parent, "op": op, "layer": layer,
                "name": name, "t0": t0, "t1": t1, "attrs": attrs}

    def test_layer_metrics_from_nested_spans(self):
        s = self._span
        spans = [
            s(1, -1, 0, "op", "ingest_append", 0.0, 10.0),
            s(2, 1, 0, "ingest", "CsvIngest.ingest", 0.0, 6.0, files=2, input_bytes=100),
            s(3, 2, 0, "exec", "job", 1.0, 2.0, task_cpu_s=0.5, input_records=10),
            s(4, 2, 0, "exec", "job", 1.5, 3.0, task_cpu_s=0.25),
            s(5, 1, 0, "catalog", "append", 6.0, 9.0, files_added=2),
            s(6, 5, 0, "plans", "planning", 6.0, 6.5),
            s(7, 5, 0, "exec", "job", 7.0, 8.0, task_cpu_s=1.0),
        ]
        m = stats.layer_metrics(self._run(spans))
        self.assertAlmostEqual(m["ingest.call_s"], 6.0)
        self.assertAlmostEqual(m["ingest.job_s"], 2.0)      # union of [1,2] and [1.5,3]
        self.assertAlmostEqual(m["ingest.driver_s"], 4.0)
        self.assertAlmostEqual(m["ingest.task_cpu_s"], 0.75)
        self.assertEqual(m["ingest.jobs"], 2.0)
        self.assertAlmostEqual(m["catalog.append_s"], 3.0)
        self.assertAlmostEqual(m["catalog.append_job_s"], 1.0)
        self.assertAlmostEqual(m["catalog.append_driver_s"], 2.0)
        self.assertAlmostEqual(m["plans.planning_s"], 0.5)
        self.assertEqual(m["exec.jobs"], 3.0)
        # op wall minus phases and the union of every job interval
        self.assertAlmostEqual(m["driver.gap_s"], 10.0 - 0.5 - 2.0 - 1.0)
        self.assertAlmostEqual(m["self.ingest_s"], 4.0)
        self.assertAlmostEqual(m["self.catalog_s"], 1.5)
        self.assertAlmostEqual(m["self.driver_s"], 1.0)

    def test_metadata_answers_count_reads_without_input(self):
        s = self._span
        spans = [
            s(1, -1, 0, "op", "meta_agg", 0.0, 1.0),
            s(2, 1, 0, "sql", "meta_agg", 0.0, 1.0, scans=0, scan_files_total=0,
              scan_files_kept=0, result_rows=1),
            s(3, -1, 1, "op", "point_lookup", 1.0, 2.0),
            s(4, 3, 1, "sql", "point_lookup", 1.0, 2.0, scans=1, scan_files_total=10,
              scan_files_kept=2, result_rows=1),
            s(5, 4, 1, "exec", "job", 1.2, 1.8, input_bytes=500, input_records=40),
        ]
        m = stats.layer_metrics(self._run(spans))
        self.assertAlmostEqual(m["catalog.metadata_answers"], 0.5)
        self.assertAlmostEqual(m["catalog.scan_kept_ratio"], 0.2)
        self.assertAlmostEqual(m["exec.records_per_result_row"], 20.0)


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("setup_s", "ops_per_s", "catalog.scan_kept_ratio", "a-b.c_d", "9x"):
            self.assertTrue(stats.valid_name(n), n)

    def test_invalid_names(self):
        for n in ("", "_lead", ".lead", "has space", "slash/x", "a" * 65, "ünï"):
            self.assertFalse(stats.valid_name(n), n)

    def test_benchmark_json_names(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = ([w["name"] for w in bench["workloads"]]
                 + [m["name"] for m in bench["end_to_end"] + bench["per_layer"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)


class SpreadTest(unittest.TestCase):
    def test_spread_uses_statistics_quartiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        med, q1, q3, share = stats.spread(xs)
        want = statistics.quantiles(xs, n=4)
        self.assertEqual((q1, med, q3), tuple(want))
        self.assertAlmostEqual(share, (want[2] - want[0]) / want[1])

    def test_typical_latency(self):
        self.assertAlmostEqual(stats.typical_latency([[1.0, 3.0, 2.0]]), 2.0)
        self.assertAlmostEqual(stats.typical_latency([[1.0], [4.0, 4.0]]), 2.0)
        # the share of each kind does not matter
        self.assertAlmostEqual(stats.typical_latency([[1.0] * 9, [4.0]]), 2.0)
        self.assertTrue(math.isnan(stats.typical_latency([[]])))

    def test_halves(self):
        samples = [(3, 30.0), (1, 10.0), (2, 20.0), (4, 40.0)]
        self.assertEqual(stats.halves(samples), (15.0, 35.0))
        self.assertEqual(stats.halves([(1, 1.0)]), (None, None))


if __name__ == "__main__":
    unittest.main()
