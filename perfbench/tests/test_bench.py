"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import pickle
import sys
import tempfile
import re
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import check, gen, stats, workloads  # noqa: E402

SF = 0.02


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {s: gen.write(s, SF, os.path.join(cls.tmp.name, f"s{s}"))
                    for s in (1, 2)}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def build(self, name, seed):
        return workloads.BUILDERS[name](seed, self.dirs[seed])

    def test_same_seed_same_tables(self):
        a, b, c = gen.tables(7, SF), gen.tables(7, SF), gen.tables(8, SF)
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_same_seed_same_operations(self):
        for name in workloads.BUILDERS:
            with self.subTest(workload=name):
                a, b = self.build(name, 1), self.build(name, 1)
                self.assertEqual(a.plan, b.plan)
                self.assertEqual(a.expect, b.expect)

    def test_other_seed_other_operations(self):
        for name in workloads.BUILDERS:
            with self.subTest(workload=name):
                a, b = self.build(name, 1), self.build(name, 2)
                self.assertNotEqual(a.plan["ops"], b.plan["ops"])

    def test_ingest_batches_depend_on_seed_only(self):
        a, b = self.build("ingest_commit", 1), self.build("ingest_commit", 1)
        inserts = lambda w: [o["sql"] for o in w.plan["ops"] if o["sql"].startswith("INSERT")]
        self.assertEqual(inserts(a), inserts(b))
        self.assertNotEqual(inserts(a), inserts(self.build("ingest_commit", 2)))

    def test_ingest_writes_the_same_amount_on_every_seed(self):
        """Seeds pick which orders a write touches, never how many."""
        def spans(seed):
            ops = self.build("ingest_commit", seed).plan["ops"]
            return sorted((o["sql"].split()[0], int(b) - int(a)) for o in ops if o["deck"] == 0
                          for a, b in re.findall(r"(?:l_orderkey|k) >= (\d+) AND (?:l_orderkey|k) < (\d+)",
                                                 o["sql"]))
        self.assertEqual(spans(1), spans(2))

    def test_deck_keeps_the_mix(self):
        """Seeds reorder and re-parameterise a deck; they never change its
        mix, so runs on different seeds do the same kinds of work."""
        shape = lambda o: re.sub(r"'[^']*'|\d+", "#", o["sql"])
        decks = [sorted(map(shape, self.build("analytics_read", s).plan["ops"][:20]))
                 for s in (1, 2)]
        self.assertEqual(decks[0], decks[1])
        self.assertNotEqual(*[[shape(o) for o in self.build("analytics_read", s).plan["ops"][:20]]
                              for s in (1, 2)])

    def test_traced_kernel_keys_run_twice_in_seeded_order(self):
        a, b = workloads.kernel_ops(1), workloads.kernel_ops(2)
        keys = [o["key"] for o in a]
        self.assertEqual(keys[:8], keys[8:])
        self.assertEqual(sorted(keys[:8]), sorted(workloads.KERNEL_KEYS))
        self.assertNotEqual(keys, [o["key"] for o in b])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [dict(id=0, parent=None, start=0, end=100),
                 dict(id=1, parent=0, start=10, end=30),
                 dict(id=2, parent=0, start=50, end=90),
                 dict(id=3, parent=2, start=60, end=70)]
        self.assertEqual(stats.self_times(spans), {0: 40, 1: 20, 2: 30, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [dict(id=0, parent=None, start=0, end=100),
                 dict(id=1, parent=0, start=10, end=60),
                 dict(id=2, parent=0, start=40, end=80)]
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [dict(id=0, parent=None, start=10, end=20),
                 dict(id=1, parent=0, start=0, end=15)]
        self.assertEqual(stats.self_times(spans)[0], 5)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, p in ((1000, 99.0), (2000, 99.5), (200, 95.0), (100, 90.0),
                     (40, 75.0), (20, 50.0)):
            with self.subTest(n=n):
                xs = list(np.random.default_rng(n).permutation(n) + 1.0)
                got, value, beyond = stats.tail(xs)
                self.assertEqual(got, p)
                self.assertGreaterEqual(beyond, 10)
                self.assertEqual(value, stats.percentile(xs, p))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([float(i) for i in range(19)]))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 5
        self.assertIsNone(stats.tail(xs))


class KernelCheck(unittest.TestCase):
    """A traced run's second answer of an operator key must equal its
    first, which must equal the key's oracle."""

    KEY = "q03_join_agg_topn"
    SQL = "SELECT 1"

    def verdict(self, second_rows):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "oracle_cache"))
            expected = (["k", "v"], [(1.0, 0.5), (2.0, 0.25)], ["k", "v"])
            with open(os.path.join(d, "oracle_cache", self.KEY + ".pkl"), "wb") as f:
                pickle.dump((self.SQL, expected), f)
            wl = workloads.Workload("t", 0.01, dict(kernel_ops=[
                dict(id=1, cls="read", key=self.KEY), dict(id=2, cls="read", key=self.KEY)]))
            first = dict(id=1, ok=True, columns=["v", "k"], rows=[[0.25, 2], [0.5, 1]])
            second = dict(id=2, ok=True, columns=["v", "k"], rows=second_rows)
            result = dict(kernel_warmup=[first], kernel_ops=[second])
            return check.check_kernels(wl, result, d, {self.KEY: self.SQL})[2]

    def test_same_rows_in_another_order_pass(self):
        self.assertIsNone(self.verdict([[0.5, 1], [0.25 * (1 + 1e-9), 2]]))

    def test_other_rows_fail(self):
        self.assertIn("differs from its first run", self.verdict([[0.5, 1], [0.3, 2]]))
        self.assertIn("differs from its first run", self.verdict([[0.5, 1]]))


if __name__ == "__main__":
    unittest.main()
