"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s graftbench/tests
"""

import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(metrics.tail_percentile(list(range(199)))[0], 90)
        self.assertEqual(metrics.tail_percentile(list(range(200)))[0], 95)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)
        self.assertEqual(metrics.tail_percentile([3.0, 1.0, 2.0]), (50, 2.0))

    def test_nearest_rank_value(self):
        values = [float(v) for v in range(1, 101)]
        self.assertEqual(metrics.tail_percentile(values), (90, 90.0))
        self.assertEqual(metrics.percentile(values, 50), 50.0)


def span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start_ms": start, "end_ms": end,
            "seconds": (end - start) / 1000.0}


class SpanTimes(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 300), span(2, 0, 200, 500),
                 span(3, 0, 800, 900), span(4, 1, 150, 250)]
        self.assertAlmostEqual(metrics.self_seconds(spans[0], spans), 0.5)
        self.assertAlmostEqual(metrics.self_seconds(spans[1], spans), 0.1)
        self.assertAlmostEqual(metrics.self_seconds(spans[3], spans), 0.1)

    def test_driver_share_is_the_time_no_job_ran(self):
        s = span(0, -1, 0, 1000)
        jobs = [(100, 300), (200, 400), (900, 1200), (1500, 1600)]
        self.assertAlmostEqual(metrics.driver_share(s, jobs), 0.6)
        self.assertAlmostEqual(metrics.driver_share(s, []), 1.0)
        self.assertAlmostEqual(metrics.driver_share(s, [(-5, 2000)]), 0.0)


class Generator(unittest.TestCase):
    def setUp(self):
        work = os.path.join(os.path.dirname(BENCH), "graftbench-work")
        os.makedirs(work, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=work)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, seed, name):
        root = os.path.join(self.tmp, name)
        plan = corpus.generate(seed, root, n_files=40, total_bytes=40_000)
        return plan, corpus.tree_digest(root), root

    def test_same_seed_gives_a_byte_identical_tree_and_plan(self):
        plan_a, digest_a, _ = self.gen(5, "a")
        plan_b, digest_b, _ = self.gen(5, "b")
        self.assertEqual(digest_a, digest_b)
        self.assertEqual(plan_a, plan_b)
        plan_c, digest_c, _ = self.gen(6, "c")
        self.assertNotEqual(digest_a, digest_c)
        self.assertNotEqual(plan_a["queries"], plan_c["queries"])

    def test_planted_structure(self):
        plan, _, root = self.gen(9, "t")
        for group in plan["exact_groups"]:
            bodies = {open(os.path.join(root, rel), "rb").read() for rel in group}
            self.assertEqual(len(bodies), 1)
        for orig, variant in plan["near_groups"]:
            self.assertNotEqual(open(os.path.join(root, orig)).read(),
                                open(os.path.join(root, variant)).read())
        self.assertTrue(plan["excluded"])
        self.assertTrue(all(p.startswith("node_modules/") for p in plan["excluded"]))
        for tick in plan["ticks"]:
            self.assertIn(tick["probe"], [rel for rel, _ in tick["append"]])
            self.assertNotIn(tick["delete"], [rel for rel, _ in tick["append"]])
            self.assertEqual(tick["fresh_query"], tick["append"][0][1])


if __name__ == "__main__":
    unittest.main()
