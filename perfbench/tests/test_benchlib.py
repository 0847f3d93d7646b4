"""Self-tests of the benchmark harness: `python3 -m unittest discover perfbench/tests`."""
import os
import statistics
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = benchlib.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(benchlib.tail(xs), benchlib.tail(sorted(xs)))
        v, pct, n = benchlib.tail(xs)
        self.assertEqual((v, n), (2, 12))
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_too_few_samples_gives_max_as_unsupported(self):
        self.assertEqual(benchlib.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(benchlib.tail(list(range(10)))[1], 100.0)
        self.assertEqual(benchlib.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_empty(self):
        with self.assertRaises(ValueError):
            benchlib.tail([])


class Quartiles(unittest.TestCase):
    def test_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_has_no_spread(self):
        self.assertEqual(benchlib.spread([2.0] * 10), 0.0)

    def test_agreement_lower_is_better(self):
        first = [1.0] * 10
        self.assertTrue(benchlib.agrees(first, [1.09] * 10, 0.1, "lower"))
        self.assertFalse(benchlib.agrees(first, [1.11] * 10, 0.1, "lower"))
        self.assertTrue(benchlib.agrees(first, [0.5] * 10, 0.1, "lower"))

    def test_agreement_higher_is_better(self):
        first = [100.0] * 10
        self.assertTrue(benchlib.agrees(first, [91.0] * 10, 0.1, "higher"))
        self.assertFalse(benchlib.agrees(first, [89.0] * 10, 0.1, "higher"))

    def test_agreement_uses_medians(self):
        first = [1.0] * 9 + [100.0]
        second = [1.05] * 9 + [0.01]
        self.assertTrue(benchlib.agrees(first, second, 0.1, "lower"))

    def test_accept_two_run_sets(self):
        decl = [{"name": "setup_s", "better": "lower", "bound": 0.25},
                {"name": "ops_per_s", "better": "higher", "bound": 0.1}]
        steady = {"setup_s": [10.0, 30.0] * 5, "ops_per_s": [1.0, 1.01] * 5}
        self.assertEqual(benchlib.accept(steady, steady, decl), [])
        slower = {"setup_s": [10.0, 30.0] * 5, "ops_per_s": [0.8, 0.81] * 5}
        self.assertEqual([f[0] for f in benchlib.accept(steady, slower, decl)], ["ops_per_s"])
        # setup_s may spread; only its median has to agree
        noisy = {"setup_s": [10.0, 30.0] * 5, "ops_per_s": [0.5, 1.5] * 5}
        self.assertEqual([f[0] for f in benchlib.accept(noisy, steady, decl)], ["ops_per_s"])


class Seeds(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.pool = os.path.join(self.tmp.name, "pool.parquet")
        n = 500
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array([f"doc {i} " * (i % 7 + 1) for i in range(n)]),
        }), self.pool)

    def tearDown(self):
        self.tmp.cleanup()

    def draw(self, seed, name):
        out = os.path.join(self.tmp.name, name)
        benchlib.draw_table(self.pool, out, "doc_id", 100, "llm_corpus", seed)
        with open(out, "rb") as f:
            return f.read(), pq.read_table(out)

    def test_same_seed_same_bytes(self):
        a, _ = self.draw(7, "a.parquet")
        b, _ = self.draw(7, "b.parquet")
        self.assertEqual(a, b)

    def test_other_seed_other_rows_same_size(self):
        _, a = self.draw(7, "a.parquet")
        _, b = self.draw(8, "b.parquet")
        self.assertEqual(a.num_rows, b.num_rows)
        self.assertEqual(a.schema, b.schema)
        self.assertNotEqual(a.column("doc_id").to_pylist(), b.column("doc_id").to_pylist())
        ids = a.column("doc_id").to_pylist()
        self.assertEqual(ids, sorted(set(ids)))

    def test_key_orders_and_forced_keys(self):
        keys = [f"k{i}" for i in range(12)]
        self.assertEqual(benchlib.key_orders("sql_mix", 3, keys, 5),
                         benchlib.key_orders("sql_mix", 3, keys, 5))
        other = benchlib.key_orders("sql_mix", 4, keys, 5)
        self.assertNotEqual(benchlib.key_orders("sql_mix", 3, keys, 5), other)
        self.assertTrue(all(sorted(o) == sorted(keys) for o in other))
        spec = {"customer": (1000, 3), "orders": (10000, 3)}
        f3 = benchlib.force_keys("subset", 3, spec)
        self.assertEqual(f3, benchlib.force_keys("subset", 3, spec))
        f4 = benchlib.force_keys("subset", 4, spec)
        self.assertNotEqual(f3, f4)
        self.assertEqual({t: len(v) for t, v in f3.items()}, {t: len(v) for t, v in f4.items()})


class Hashes(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2, 3], "y": [0.1 + 0.2, 2.0, 3.0]})
        b = pd.DataFrame({"y": [3.0, 0.3, 2.0], "x": [3, 1, 2]})
        self.assertEqual(benchlib.frame_hash(a), benchlib.frame_hash(b))

    def test_values_and_dtypes_matter(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2, 3]})
        self.assertNotEqual(benchlib.frame_hash(a), benchlib.frame_hash(pd.DataFrame({"x": [1, 2, 4]})))
        self.assertNotEqual(benchlib.frame_hash(a),
                            benchlib.frame_hash(pd.DataFrame({"x": [1.0, 2.0, 3.0]})))


if __name__ == "__main__":
    unittest.main()
