"""Tests for the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import datetime as dt
import hashlib
import json
import os
import random
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(metrics.percentile(values, 50), 50)
        self.assertEqual(metrics.percentile(values, 90), 90)
        self.assertEqual(metrics.percentile([7], 99), 7)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_and_gaps(self):
        # (id, parent, op, name, start, end)
        spans = [(1, -1, 0, "op", 0, 100),
                 (2, 1, 0, "a", 10, 30),
                 (3, 1, 0, "b", 20, 50),   # overlaps a: union 10..50
                 (4, 1, 0, "c", 80, 90),
                 (5, 4, 0, "leaf", 82, 85)]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[1], 100 - 40 - 10)
        self.assertEqual(selfs[2], 20)
        self.assertEqual(selfs[4], 10 - 3)
        self.assertEqual(selfs[5], 3)

    def test_child_outside_parent_is_clipped(self):
        spans = [(1, -1, 0, "op", 0, 10), (2, 1, 0, "late", 5, 20)]
        self.assertEqual(metrics.self_times(spans)[1], 5)

    def test_covered(self):
        self.assertEqual(metrics.covered([(0, 5), (3, 8), (20, 30)], 2, 25), 6 + 5)
        self.assertEqual(metrics.covered([], 0, 10), 0)


class AttributionTest(unittest.TestCase):
    TM = "graft.operators.TableManifest$.$anonfun$load$1(TableManifest.scala:230)"
    SCOPED = "graft.ScopedSessionConf$.withConf(ScopedSessionConf.scala:35)"
    SC = "graft.streaming.StreamCuration$.curateBatch(StreamCuration.scala:450)"

    def test_frame_module(self):
        self.assertEqual(metrics.frame_module(self.TM), "TableManifest")
        self.assertEqual(metrics.frame_module("graft.Sessions$.local(Sessions.scala:40)"),
                         "Sessions")
        self.assertIsNone(metrics.frame_module("org.apache.spark.sql.Dataset.collect"))

    def test_innermost_listed_module_wins(self):
        self.assertEqual(metrics.attribute([self.SCOPED, self.TM, self.SC], [], ""),
                         "TableManifest")

    def test_pool_thread_job_uses_sql_execution_call_site(self):
        self.assertEqual(metrics.attribute([], [self.SC], ""), "StreamCuration")

    def test_benchmark_span_is_the_fallback(self):
        self.assertEqual(metrics.attribute(
            [], [], "pipeline.QueryLayer.metricsCompareAt"), "QueryLayer")
        self.assertEqual(metrics.attribute([self.SCOPED], [], "ingest.batch"), "other")


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            h = hashlib.sha256()
            for name in sorted(os.listdir(d)):
                h.update(name.encode())
                with open(os.path.join(d, name), "rb") as f:
                    h.update(f.read())
            return h.hexdigest()

    def test_same_seed_same_bytes(self):
        for w in ["daily_ingest", "stream_curation", "serve_api"]:
            self.assertEqual(self.digest(w, 7), self.digest(w, 7), w)
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8), w)

    def test_planted_batch_shares(self):
        rng = random.Random(1)
        regions = gen.region_names(rng, 400)
        known = [gen.START_DAY + dt.timedelta(d) for d in range(8)]
        rows, planted = gen.daily_batch(rng, gen.START_DAY + dt.timedelta(8),
                                        regions, known)
        self.assertEqual(planted["rows_in"], len(rows))
        self.assertEqual(sum(planted["reasons"].values()), planted["rows_rejected"])
        self.assertTrue(all(n > 0 for n in planted["reasons"].values()))
        # corrections reach back over the previous week
        self.assertEqual(len(planted["touched"]), 8)


class RoundingTest(unittest.TestCase):
    def test_half_even_on_the_decimal_form(self):
        con = oracle._connect()
        got = con.execute("SELECT bround2(55.125::DOUBLE), bround2(55.135::DOUBLE), "
                          "bround4(0.12345::DOUBLE), bround4(0.12355::DOUBLE), "
                          "bround4(1e-05::DOUBLE)").fetchone()
        self.assertEqual(got, (55.12, 55.14, 0.1234, 0.1236, 0.0))


class BenchmarkFileTest(unittest.TestCase):
    def test_lists_match_the_code(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.PER_LAYER_UNITS)
        with open(os.path.join(HERE, "..", "metric_map.json")) as f:
            mapping = json.load(f)
        self.assertEqual(set(mapping), set(metrics.PER_LAYER_UNITS))
        for m in mapping.values():
            self.assertIn(m["moves"], metrics.END_TO_END_UNITS)


if __name__ == "__main__":
    unittest.main()
