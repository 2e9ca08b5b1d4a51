"""Tests for the benchmark's own helpers: percentiles, interval unions and
self times, the commit-curve interpolation, seeded input generation, and
the run-set comparison.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import shutil
import tempfile
import unittest

import compare
import gen
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_failures_count_as_missing_the_limit(self):
        xs = [1.0] * 98 + [stats.INF] * 2
        self.assertEqual(stats.percentile(xs, 50), 1.0)
        self.assertEqual(stats.percentile(xs, 99), stats.INF)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartiles_match_statistics_module(self):
        q1, med, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 1.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [
            (1, 0, 1, "root", 0, 100),
            (2, 1, 1, "a", 10, 40),
            (3, 1, 1, "b", 30, 60),   # overlaps a: 10..60 is covered once
            (4, 2, 1, "a.child", 15, 25),
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 10)

    def test_self_time_clips_children_to_the_parent(self):
        st = stats.self_times([(1, 0, 1, "p", 0, 10), (2, 1, 1, "c", 5, 20)])
        self.assertEqual(st[1], 5)

    def test_interp(self):
        pts = [(0, 0), (10, 100), (20, 100)]
        self.assertEqual(stats.interp(pts, 5), 50)
        self.assertEqual(stats.interp(pts, 15), 100)
        self.assertEqual(stats.interp(pts, -1), 0)
        self.assertEqual(stats.interp(pts, 99), 100)


def _digest(d):
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


class SeedDeterminismTest(unittest.TestCase):
    def setUp(self):
        # inside the checkout, next to the benchmark's other outputs
        base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".bench_build")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _write(self, seed, name):
        d = os.path.join(self.tmp, name)
        gen.write_live(seed, os.path.join(d, "live"), 300)
        gen.write_backfill(seed, os.path.join(d, "backfill"), 1, 20, 40)
        gen.write_corpus(seed, os.path.join(d, "corpus"), 60, 50)
        return _digest(d)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self._write(5, "a"), self._write(5, "b"))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self._write(5, "a"), self._write(6, "b"))

    def test_live_plan_shares(self):
        plan = gen.live_plan(1, 4000)
        invalid = sum(1 for _, _, k in plan if k != "valid") / len(plan)
        self.assertAlmostEqual(invalid, gen.INVALID_SHARE, delta=0.02)
        top = sum(1 for t, _, _ in plan if t == 0) / len(plan)
        self.assertAlmostEqual(top, gen.zipf_weights(8)[0], delta=0.03)

    def test_query_answers_follow_the_ledger(self):
        recs = gen.backfill_dump(2, 1, 20)
        qs = gen.backfill_queries(2, recs, 1, 40)
        for q in qs:
            if q["kind"] == "aggregate":
                n = sum(int(row[1]) for row in q["expected"])
                self.assertEqual(n, sum(1 for r in recs if r[0] == q["tenant"] and r[5] == "valid"))
            if q["kind"] == "point" and q["expected"]:
                self.assertTrue(q["sql"].endswith(f"'{q['expected'][0][0]}'"))

    def test_jwt_verifies(self):
        n, e, d = gen.rsa_key(3)
        token = gen.jwt({"custom:tenantId": "tenant0"}, n, d)
        head, body, sig = token.split(".")
        import base64
        s = int.from_bytes(base64.urlsafe_b64decode(sig + "=" * (-len(sig) % 4)), "big")
        em = pow(s, e, n).to_bytes((n.bit_length() + 7) // 8, "big")
        self.assertTrue(em.endswith(hashlib.sha256(f"{head}.{body}".encode()).digest()))


class CompareTest(unittest.TestCase):
    def test_pairs_won_and_medians(self):
        specs = {"lat": {"unit": "ms", "better": "lower", "bound": 0.1}}
        a = [{"metrics": {"lat": {"value": v}}} for v in (10, 11, 12, 13, 14)]
        b = [{"metrics": {"lat": {"value": v}}} for v in (9, 12, 11, 12, 13)]
        row = compare.compare(a, b, specs)[0]
        self.assertEqual(row["a"][1], 12)
        self.assertEqual(row["b"][1], 12)
        self.assertEqual(row["wins"], 4)
        self.assertEqual(row["pairs"], 5)


if __name__ == "__main__":
    unittest.main()
