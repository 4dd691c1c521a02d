"""Unit checks for the benchmark's own arithmetic and frozen lists.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import unittest

import numpy as np

import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))                # 100 samples: p90 leaves 10 beyond
        self.assertEqual(stats.tail(xs), (90, 90, 100))
        self.assertEqual(stats.tail(xs + [101])[1], 90)
        self.assertEqual(stats.tail(list(range(1, 200)))[1], 90)   # p95 needs 200
        self.assertEqual(stats.tail(list(range(1, 201)))[1], 95)
        self.assertEqual(stats.tail(list(range(1, 41)))[1], 75)

    def test_sample_count_recorded_and_small_samples_fall_back_to_median(self):
        v, p, n = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, p, n), (2.0, 50, 3))

    def test_cap_keeps_the_percentile_fixed(self):
        self.assertEqual(stats.tail(list(range(1, 1001)), cap=75)[1], 75)


class Failures(unittest.TestCase):
    def test_failed_item_misses_every_limit(self):
        xs = [0.1, 0.2, stats.FAILED, 0.3]
        self.assertTrue(all(stats.FAILED > limit for limit in (1.0, 1e300, 1.7e308)))
        self.assertEqual(stats.percentile(xs, 100), stats.FAILED)
        self.assertEqual(stats.percentile([stats.FAILED] * 3, 50), stats.FAILED)

    def test_failed_item_fails_the_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertEqual(stats.geomean([1.0, stats.FAILED]), stats.FAILED)

    def test_failed_item_ranks_beyond_every_success(self):
        xs = [5.0] * 15 + [stats.FAILED] * 10
        self.assertEqual(stats.tail(xs)[0], 5.0)
        self.assertEqual(stats.percentile(xs, 90), stats.FAILED)
        self.assertEqual(stats.percentile([stats.FAILED, 1.0, stats.FAILED], 50),
                         stats.FAILED)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (2, 6)]), 5)
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (1, 4), (8, 9)]), 6)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(stats.self_time((0, 10), [(11, 12)]), 10)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (3, 4)]), 0)


class WorkUnits(unittest.TestCase):
    def test_fixed_work_from_seconds(self):
        self.assertEqual(run.work_units(14, run.PASS_S), 2)
        self.assertEqual(run.work_units(14, run.ROUND_S), 8)
        self.assertEqual(run.work_units(0.5, run.PASS_S), 1)


# The frozen lists: a digest of each list's sorted member names, and the
# sample drawn from them. Changing the lists means changing these.
FROZEN_DIGESTS = {"floor": "1c88ef53f8593261", "staged": "850b3a65685ace00"}
FROZEN_SAMPLE = {"floor": ["q140_zipf_fit", "q321_mauve_proxy", "q192_embed_health"],
                 "staged": ["q309_quantile_reg", "q325_personalized_pagerank"]}


# sha256 prefixes of the copy of graft's sf0.1 test tables in data/sf0.1.
TABLE_DIGESTS = {
    "customer": "d5de58d671fa7dbf", "documents": "d10b0da67e5aceb4",
    "embeddings": "f5a6fe8c86ce8719", "events": "1d18f4489b6c943b",
    "lineitem": "e2be01994986260d", "nation": "590830f49a4bd515",
    "orders": "128b7e8c223a3934", "part": "082525b9eb5098fe",
    "region": "ce0717013cdeb77e", "supplier": "ab1a9344d47e6597"}


class FrozenTables(unittest.TestCase):
    def test_tables_are_the_sf01_copy(self):
        tables = os.path.join(HERE, "data", "sf0.1")
        self.assertEqual(sorted(os.listdir(tables)),
                         sorted(f"{t}.parquet" for t in TABLE_DIGESTS))
        for t, want in TABLE_DIGESTS.items():
            with open(os.path.join(tables, f"{t}.parquet"), "rb") as f:
                self.assertEqual(hashlib.sha256(f.read()).hexdigest()[:16], want, t)


class FrozenLists(unittest.TestCase):
    def setUp(self):
        self.lists = run.load_lists()

    def test_lists_are_the_frozen_ones(self):
        for w in ("floor", "staged"):
            names = sorted(e["name"] for e in self.lists[w])
            digest = hashlib.sha256(json.dumps(names).encode()).hexdigest()[:16]
            self.assertEqual(digest, FROZEN_DIGESTS[w], w)
        self.assertEqual(self.lists["sample"], FROZEN_SAMPLE)

    def test_floor_and_staged_disjoint_and_split_by_construct_jobs(self):
        floor = {e["name"] for e in self.lists["floor"]}
        staged = {e["name"] for e in self.lists["staged"]}
        self.assertFalse(floor & staged)
        self.assertTrue(all(e["construct_jobs"] <= 1 for e in self.lists["floor"]))
        self.assertTrue(all(e["construct_jobs"] >= 2 for e in self.lists["staged"]))

    def test_sample_is_the_frozen_stratified_draw(self):
        import freeze
        for w in ("floor", "staged"):
            names = {e["name"] for e in self.lists[w]}
            self.assertTrue(set(self.lists["sample"][w]) <= names)
        rng = np.random.default_rng(freeze.SAMPLE_SEED)
        self.assertEqual({w: freeze.stratified(self.lists[w], freeze.SAMPLE_SIZE[w], rng)
                          for w in ("floor", "staged")}, self.lists["sample"])


if __name__ == "__main__":
    unittest.main()
