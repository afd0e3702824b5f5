"""Self-tests of the benchmark's own pieces.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from benchlib import digest, metrics, workloads  # noqa: E402
import compare  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_fixed_n(self):
        xs = [float(i) for i in range(1, 41)]  # n = 40
        self.assertEqual(metrics.percentile(xs, 0.5), 20.5)
        self.assertEqual(metrics.percentile(xs, 0.0), 1.0)
        self.assertEqual(metrics.percentile(xs, 1.0), 40.0)
        self.assertAlmostEqual(metrics.percentile(xs, 0.75), 30.25)
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)

    def test_tail_quantile_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_quantile(40), 0.75)
        self.assertEqual(metrics.tail_quantile(100), 0.9)
        self.assertEqual(metrics.tail_quantile(2000), 0.99)
        # below 20 samples no percentile above the median has 10 beyond it
        self.assertEqual(metrics.tail_quantile(10), 0.5)
        for n in (20, 40, 100, 500):
            q = metrics.tail_quantile(n)
            self.assertGreaterEqual(round(n * (1 - q), 9), 10)


class OpsPerSecondTest(unittest.TestCase):
    def test_median_of_round_rates_ignores_one_slow_round(self):
        ops = [{"round": r, "wall_s": w} for r, w in
               [(0, 0.5), (0, 0.5), (1, 0.5), (1, 0.5), (2, 2.0), (2, 2.0)]]
        self.assertEqual(metrics.ops_per_s(ops), 2.0)
        ops += [{"round": 3, "wall_s": 1.0}, {"round": 3, "wall_s": 1.0}]
        self.assertEqual(metrics.ops_per_s(ops), 1.5)


class UnionTest(unittest.TestCase):
    def test_union_of_overlapping_and_disjoint_jobs(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(20, 25), (0, 10), (2, 3)]), 15)
        self.assertEqual(metrics.union_length([(0, 5), (5, 8)]), 8)

    def test_clip_to_op_interval(self):
        self.assertEqual(metrics.clip([(0, 10), (12, 20), (30, 40)], 5, 15),
                         [(5, 10), (12, 15)])


class DigestTest(unittest.TestCase):
    def test_normalization_matches_compare_py(self):
        self.assertEqual(digest.norm(None), "NULL")
        self.assertEqual(digest.norm(float("nan")), "NaN")
        self.assertEqual(digest.norm(True), "true")
        self.assertEqual(digest.norm(0.1 + 0.2), "0.3")
        self.assertEqual(digest.norm(1234567.125), "1234567.125")
        self.assertEqual(digest.norm(1e20), "1e+20")
        self.assertEqual(digest.norm(-0.00001234), "-1.234e-05")
        self.assertEqual(digest.norm(12.0), "12")

    def test_decimal_and_int_agree_with_float(self):
        import decimal
        self.assertEqual(digest.norm(decimal.Decimal("12.50")), "12.5")
        self.assertEqual(digest.norm(decimal.Decimal("12.50")), digest.norm(12.5))

    def test_timestamps_are_epoch_micros(self):
        import datetime
        t = datetime.datetime(1970, 1, 1, 0, 0, 1, 5)
        self.assertEqual(digest.norm(t), "1000005")

    def test_digest_ignores_row_and_column_order(self):
        a = digest.digest(["b", "a"], [(1, 2.0), (3, 4.0)])
        b = digest.digest(["a", "b"], [(4.0, 3), (2.0, 1)])
        self.assertEqual(a, b)
        self.assertTrue(a.startswith("2:"))
        self.assertNotEqual(a, digest.digest(["a", "b"], [(4.0, 3), (2.0, 2)]))
        # a multiset: a duplicated row changes the digest
        self.assertNotEqual(a, digest.digest(["a", "b"], [(4.0, 3), (2.0, 1), (2.0, 1)]))


class CorpusOpsTest(unittest.TestCase):
    def test_rounds_are_seeded_permutations_with_unique_ids(self):
        ops = workloads.corpus_ops(["a", "b", "c"], 5, 3)
        self.assertEqual([o["id"] for o in ops], list(range(9)))
        for r in range(3):
            self.assertEqual(sorted(o["name"] for o in ops if o["round"] == r),
                             ["a", "b", "c"])
        self.assertEqual(ops, workloads.corpus_ops(["a", "b", "c"], 5, 3))


class DmlModelTest(unittest.TestCase):
    def model(self):
        return workloads.DmlModel({1: (2, 2, 10.0), 2: (1, 1, 5.0), 5: (3, 2, 9.0)})

    def test_versions_track_every_commit(self):
        m = self.model()
        self.assertEqual(m.version, 1)
        self.assertEqual(m.versions[1], (6, 5, 24.0))
        self.assertEqual(m.delete(2, 2), 1)
        m.insert([(9, 0, 0, 1, 4.0)])
        self.assertEqual(m.version, 3)
        self.assertEqual(m.versions[2], (5, 4, 19.0))
        self.assertEqual(m.versions[3], (6, 5, 23.0))
        self.assertEqual(m.point(2), (0, 0.0))
        self.assertEqual(m.point(9), (1, 4.0))

    def test_range_update_adds_per_non_null_row(self):
        m = self.model()
        self.assertEqual(m.update_add(1, 5, 1.0), 6)
        self.assertEqual(m.point(1), (2, 12.0))
        self.assertEqual(m.point(5), (3, 11.0))  # one null quantity stays null
        self.assertEqual(m.totals, [6, 5, 29.0])

    def test_merge_updates_matched_keys_and_inserts_the_rest(self):
        m = self.model()
        m.delete(2, 2)
        n = m.merge([(5, 0, 0, 1, 7.0), (2, 0, 0, 1, 3.0)])
        self.assertEqual(n, 4)
        self.assertEqual(m.point(5), (3, 21.0))  # every matched row, nulls too
        self.assertEqual(m.point(2), (1, 3.0))
        self.assertEqual(m.live_keys(), [1, 2, 5])

    def test_generator_is_seeded_and_reads_carry_expectations(self):
        base = {k: (2, 2, 4.0) for k in range(0, 400)}
        a = workloads.DmlGenerator(7, base).ops(workloads.DML_ROUND, 0, 0)
        b = workloads.DmlGenerator(7, base).ops(workloads.DML_ROUND, 0, 0)
        self.assertEqual(a, b)
        self.assertEqual([o["name"] for o in a], workloads.DML_ROUND)
        kinds = [o["name"] for o in a]
        self.assertEqual(kinds[kinds.index("compact") + 1], "merge")
        self.assertTrue(all("expect" in o for o in a if o["kind"] == "read"))
        # the CTAS is version 1 and five commits follow before the read
        travel = next(o for o in a if o["name"] == "time_travel")
        self.assertIn("VERSION AS OF '3'", travel["sql"])
        self.assertEqual(sorted(workloads.DML_WARMUP), sorted(set(workloads.DML_ROUND)))

    def test_check_read(self):
        point = {"expect": {"rows": 2, "qty": 5.0}}
        self.assertTrue(workloads.check_read(point, [[1, 2.0], [2, 3.0]]))
        self.assertFalse(workloads.check_read(point, [[1, 2.0]]))
        agg = {"expect": {"count": 3, "qty": 0.0}}
        self.assertTrue(workloads.check_read(agg, [[3, None]]))


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        p = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0]
        faster = [x * 0.8 for x in p]
        self.assertEqual(compare.verdict(p, faster, True, 0.1)["verdict"], "better")
        self.assertEqual(compare.verdict(p, [x * 1.2 for x in p], True, 0.1)["verdict"], "worse")
        self.assertEqual(compare.verdict(p, list(p), True, 0.1)["verdict"], "same")
        noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 0.8, 1.2, 1.0]
        self.assertEqual(compare.verdict(p, noisy, True, 0.1)["verdict"], "unresolved")


if __name__ == "__main__":
    unittest.main()
