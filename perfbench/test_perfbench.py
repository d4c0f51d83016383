"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 3.7)

    def test_single_sample(self):
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class TailPercentileTest(unittest.TestCase):
    def test_kept_with_ten_samples_above(self):
        xs = list(range(1, 101))  # p90 = 90.1; 91..100 lie above it
        self.assertAlmostEqual(metrics.tail_percentile(xs, 90), 90.1)

    def test_dropped_with_nine_samples_above(self):
        xs = list(range(1, 91))  # p90 = 81.1; only 82..90 lie above it
        self.assertIsNone(metrics.tail_percentile(xs, 90))

    def test_ties_at_the_percentile_do_not_count_as_above(self):
        xs = [1.0] * 50 + [2.0] * 50
        self.assertIsNone(metrics.tail_percentile(xs, 90))

    def test_empty(self):
        self.assertIsNone(metrics.tail_percentile([], 90))


class JobUnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(metrics.union_length([(0, 10), (20, 25)]), 15)

    def test_overlap_counts_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)]), 15)

    def test_nested_and_unsorted(self):
        self.assertEqual(
            metrics.union_length([(30, 40), (0, 100), (10, 20)]), 100)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 10), (10, 20)]), 20)

    def test_concurrent_jobs_after_a_gap(self):
        jobs = [(0, 5), (10, 30), (12, 18), (25, 40)]
        self.assertEqual(metrics.union_length(jobs), 5 + 30)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)


class DriverGapTest(unittest.TestCase):
    def test_wall_minus_busy(self):
        # two queries, 2.0 s + 1.5 s; jobs busy 1.2 s in total (epoch ms)
        jobs = [(1000, 1800), (1500, 2000), (5000, 5200)]
        self.assertAlmostEqual(metrics.driver_gap([2.0, 1.5], jobs), 2.3)

    def test_no_jobs_means_all_driver(self):
        self.assertAlmostEqual(metrics.driver_gap([0.4, 0.6], []), 1.0)


def op(name, wall):
    return {"name": name, "ok": True, "wall": wall, "cpu": 2 * wall,
            "jit": 0.5 * wall, "build": 0.0, "plan": 0.0, "action": wall, "error": ""}


class EndToEndTest(unittest.TestCase):
    def test_warm_and_setup(self):
        result = {
            "passes": [
                {"kind": "cold", "traced": False,
                 "ops": [op("a", 5.0), op("b", 3.0)]},
                {"kind": "warmup", "traced": False,
                 "ops": [op("a", 9.0), op("b", 9.0)]},
                {"kind": "warm", "traced": False,
                 "ops": [op("a", 2.0), op("b", 1.0)]},
                {"kind": "warm", "traced": False,
                 "ops": [op("a", 4.0), op("b", 1.2)]},
                {"kind": "warm", "traced": False,
                 "ops": [op("a", 3.0), op("b", 1.1)]},
            ],
        }
        m = metrics.end_to_end(result, [(4.0, 0.1), (3.0, 0.1), (5.0, 0.2)])
        self.assertAlmostEqual(m["setup_s"], 4.1)
        # pass CPU totals 6.0, 10.4 and 8.2: the cold and warm-up passes
        # do not count
        self.assertAlmostEqual(m["warm_cpu_s"], 8.2)
        self.assertEqual(set(m), {"setup_s", "warm_cpu_s"})
        warm = [p for p in result["passes"] if p["kind"] == "warm"]
        self.assertAlmostEqual(metrics.pass_median(warm, "wall"), 4.1)


class InputsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.src = os.path.join(self.tmp.name, "src")
        os.makedirs(self.src)
        for t in inputs.TABLES:
            table = pa.table({"k": list(range(50)),
                              "v": [f"{t}{i}" for i in range(50)]})
            pq.write_table(table, os.path.join(self.src, f"{t}.parquet"),
                           row_group_size=50, compression="snappy")

    def tearDown(self):
        self.tmp.cleanup()

    def read(self, d, t="orders"):
        return pq.read_table(os.path.join(d, f"{t}.parquet"))

    def test_same_seed_same_inputs_and_multiset_kept(self):
        a, b, c = (os.path.join(self.tmp.name, x) for x in "abc")
        inputs.generate(self.src, a, 7)
        inputs.generate(self.src, b, 7)
        inputs.generate(self.src, c, 8)
        src, ta, tb, tc = (self.read(d) for d in (self.src, a, b, c))
        self.assertEqual(ta, tb)
        self.assertNotEqual(ta.column("k").to_pylist(),
                            tc.column("k").to_pylist())
        self.assertNotEqual(ta.column("k").to_pylist(),
                            src.column("k").to_pylist())
        self.assertEqual(ta.schema, src.schema)
        self.assertEqual(sorted(ta.column("v").to_pylist()),
                         sorted(src.column("v").to_pylist()))
        meta = pq.ParquetFile(os.path.join(a, "orders.parquet")).metadata
        self.assertEqual(meta.num_row_groups, 1)
        self.assertEqual(meta.row_group(0).column(0).compression, "SNAPPY")

    def test_oracle_cache_key_ignores_row_order_only(self):
        a, b = (os.path.join(self.tmp.name, x) for x in "ab")
        inputs.generate(self.src, a, 1)
        inputs.generate(self.src, b, 2)

        def key(d):
            con = oracle.connect(d)
            try:
                return oracle.multiset_key(con)
            finally:
                con.close()
        self.assertEqual(key(a), key(b))
        t = self.read(b)
        pq.write_table(t.set_column(0, "k", pa.array(
            [x + 1 if i == 0 else x for i, x in
             enumerate(t.column("k").to_pylist())])),
            os.path.join(b, "orders.parquet"))
        self.assertNotEqual(key(a), key(b))


if __name__ == "__main__":
    unittest.main()
