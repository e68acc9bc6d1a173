"""Self-tests of the benchmark's own code:

    python3 perfbench/test_perfbench.py

The Registry-coverage test lists the probe names through the built driver,
so it builds the program first when no build is current."""
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        with self.assertRaises(ValueError):
            metrics.percentile(xs[:99], 90)
        self.assertEqual(metrics.percentile(list(range(20)), 50), 9)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(19)), 50)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 40
        self.assertEqual(metrics.percentile(xs, 90), metrics.percentile(sorted(xs), 90))


class SelfTimes(unittest.TestCase):
    def test_children_are_subtracted_from_their_parent_only(self):
        spans = [
            {"id": 0, "parent": -1, "dur_ms": 100.0},
            {"id": 1, "parent": 0, "dur_ms": 30.0},
            {"id": 2, "parent": 1, "dur_ms": 10.0},
            {"id": 3, "parent": 0, "dur_ms": 25.0},
        ]
        self.assertEqual(metrics.self_times(spans), {0: 45.0, 1: 20.0, 2: 10.0, 3: 25.0})

    def test_self_times_sum_to_the_root(self):
        spans = [{"id": 0, "parent": -1, "dur_ms": 9.5},
                 {"id": 1, "parent": 0, "dur_ms": 4.25},
                 {"id": 2, "parent": 0, "dur_ms": 1.0}]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 9.5)


class GeneratorDeterminism(unittest.TestCase):
    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertEqual(cmp.left_only + cmp.right_only, [])
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        self.assertEqual(mismatch + errors, [])

    def check(self, make):
        with tempfile.TemporaryDirectory() as t:
            for seed, name in [(7, "a"), (7, "b"), (8, "c")]:
                make(seed, os.path.join(t, name))
            self.same_tree(os.path.join(t, "a"), os.path.join(t, "b"))
            self.assertFalse(filecmp.cmp(
                *(os.path.join(t, n, f) for n in "ac" for f in [self.main_file]),
                shallow=False))

    def test_osm(self):
        self.main_file = "map.osm"
        self.check(lambda s, d: gen.gen_osm(s, d, 0.3))

    def test_corpus(self):
        self.main_file = "documents.parquet"
        self.check(lambda s, d: gen.gen_corpus(s, d, 300, 20))

    def test_tables(self):
        self.main_file = "lineitem.parquet"
        self.check(lambda s, d: gen.gen_tables(s, d, 0.001))

    def test_osm_truth_counts_its_own_rows(self):
        with tempfile.TemporaryDirectory() as t:
            gen.gen_osm(3, t, 0.3)
            import json
            truth = json.load(open(os.path.join(t, "truth.json")))
            xml = open(os.path.join(t, "map.osm")).read()
            self.assertEqual(truth["rows"]["nodes"], xml.count("<node "))
            self.assertEqual(truth["rows"]["ways"], xml.count("<way "))
            self.assertEqual(truth["rows"]["ways_nodes"], xml.count("<nd "))


class GroupMapping(unittest.TestCase):
    def test_every_registry_name_has_a_group(self):
        import run
        names = run.registry_names(run.build())
        self.assertGreater(len(names), 200)
        groups = {n: metrics.group(n) for n in names}  # raises on an unmapped family
        self.assertEqual(set(groups.values()), set(metrics.GROUPS))
        sample = metrics.sample_probes(names, run.PROBE_SHARE)
        self.assertEqual({metrics.group(n) for n in sample}, set(metrics.GROUPS))
        self.assertEqual(len(sample), len(set(sample)))

    def test_family_examples(self):
        self.assertEqual(metrics.group("x_ded2_minhash"), "dedup")
        self.assertEqual(metrics.group("x_dec1_contamination"), "decon")
        self.assertEqual(metrics.group("osm_q1_type_counts"), "ref")
        self.assertEqual(metrics.group("p_agg1_hash_agg"), "sql")
        self.assertEqual(metrics.group("x_ret1_bm25"), "sim")
        self.assertEqual(metrics.group("x_mm2b_decode"), "other")
        with self.assertRaises(KeyError):
            metrics.group("x_new9_family")


if __name__ == "__main__":
    unittest.main()
