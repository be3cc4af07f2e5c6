"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import tempfile
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_median_of_odd_and_even_counts(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 50), 3)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)

    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(metrics.percentile(xs, 0), 10)
        self.assertEqual(metrics.percentile(xs, 100), 50)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 46.0)

    def test_single_value_and_empty(self):
        self.assertEqual(metrics.percentile([7], 99), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_agrees_with_statistics_median(self):
        xs = [3.2, 9.1, 0.4, 7.7, 5.5, 1.9]
        self.assertAlmostEqual(metrics.percentile(xs, 50), statistics.median(xs))


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (6, 7)]), 15)

    def test_disjoint_and_touching_intervals(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6), (6, 9)]), 6)

    def test_clipping_to_the_span(self):
        self.assertEqual(metrics.union_length([(-5, 3), (8, 20)], 0, 10), 5)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_driver_gap_is_span_minus_job_union(self):
        jobs = [{"start": 1000, "end": 3000}, {"start": 2000, "end": 4000},
                {"start": 6000, "end": 7000}]
        # a 10 s span with jobs covering 1-4 s and 6-7 s: 6 s uncovered
        self.assertAlmostEqual(metrics.driver_gap_s(0, 10000, jobs), 6.0)
        self.assertAlmostEqual(metrics.driver_gap_s(0, 10000, []), 10.0)


class ModuleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        for rel in ["Tables.scala", "Pipeline.scala", "sources/PgCopyWriter.scala",
                    "operators/DedupOps.scala", "streaming/StreamOps.scala"]:
            p = os.path.join(self.tmp.name, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            open(p, "w").close()
        self.modules = metrics.source_modules(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def test_sub_packages_and_top_level_files(self):
        self.assertEqual(self.modules["PgCopyWriter"], "sources")
        self.assertEqual(self.modules["DedupOps"], "operators")
        self.assertEqual(self.modules["Tables"], "Tables")
        self.assertEqual(self.modules["Pipeline"], "Pipeline")

    def test_stage_names_map_to_modules(self):
        m = self.modules
        self.assertEqual(metrics.module_of("text at PgCopyWriter.scala:77", m), "sources")
        self.assertEqual(metrics.module_of("parquet at Tables.scala:48", m), "Tables")
        self.assertEqual(metrics.module_of("count at Pipeline.scala:97", m), "Pipeline")
        self.assertEqual(metrics.module_of(
            "start at StreamOps.scala:1201", m), "streaming")

    def test_unknown_sites_are_other(self):
        m = self.modules
        self.assertEqual(metrics.module_of("run at ThreadPoolExecutor.java:1136", m), "other")
        self.assertEqual(metrics.module_of("save at Unknown.scala:1", m), "other")
        self.assertEqual(metrics.module_of("", m), "other")
        self.assertEqual(metrics.module_of(None, m), "other")


class JobModuleTest(unittest.TestCase):
    def test_falls_back_to_the_sql_execution_site(self):
        modules = {"Pipeline": "Pipeline", "PgCopyWriter": "sources"}
        aqe = {"site": "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
               "execution_site": "count at Pipeline.scala:97"}
        self.assertEqual(metrics.job_module(aqe, modules), "Pipeline")
        direct = {"site": "text at PgCopyWriter.scala:77",
                  "execution_site": "count at Pipeline.scala:97"}
        self.assertEqual(metrics.job_module(direct, modules), "sources")
        self.assertEqual(metrics.job_module({"site": "?"}, modules), "other")


class OutsideBatchTest(unittest.TestCase):
    def test_wall_minus_summed_trigger_time(self):
        self.assertAlmostEqual(metrics.outside_batch_s(5.0, [1200, 800, 500]), 2.5)

    def test_no_batches_is_all_outside(self):
        self.assertAlmostEqual(metrics.outside_batch_s(1.5, []), 1.5)


if __name__ == "__main__":
    unittest.main()
