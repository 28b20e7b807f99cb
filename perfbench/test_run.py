"""The benchmark's own tests: the pure helpers, BENCHMARK.json against the
metrics run.py emits, and the tiny-size smoke run of every workload.

Usage: python3 perfbench/test_run.py      (from the repository root)
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402

import check  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


class Helpers(unittest.TestCase):
    def test_quantile_interpolates(self):
        self.assertEqual(run.quantile([1.0], 0.9), 1.0)
        self.assertAlmostEqual(run.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.9), 4.6)

    def test_compare_frames_ignores_row_and_column_order(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
        self.assertIsNone(check.compare_frames(a, b))
        self.assertIsNotNone(check.compare_frames(a, b.assign(x=[2, 3])))
        self.assertIsNotNone(check.compare_frames(a, b.assign(x=[2.0, 1.0])))

    def test_xxh64_matches_spark_xxhash64(self):
        # Spark 4.1: xxhash64('a b c'), xxhash64(<a 45-byte string>), xxhash64('a b c', 3)
        h = check.xxh64(b"a b c", 42)
        self.assertEqual(h, -2167479932694485896)
        self.assertEqual(check.xxh64(b"the quick brown fox jumps over the lazy dog!!", 42),
                         2818261134456583224)
        self.assertEqual(check.xxh64((3).to_bytes(4, "little"), h), 4104345984614524395)

    def test_lsh_restriction_keeps_candidate_pairs_only(self):
        con = check.connect()
        oracle = ("WITH exact AS (SELECT * FROM (VALUES (1, 'a b c d'), (2, 'a b c d'), "
                  "(3, 'p q r s')) t(page_id, ctext)), g AS (SELECT page_id FROM exact) "
                  f"SELECT count(*) AS n {check.ALL_PAIRS}")
        self.assertEqual(con.execute(oracle).fetchone()[0], 3)
        self.assertEqual(con.execute(check.lsh_restricted(con, oracle)).fetchone()[0], 1)
        with self.assertRaises(ValueError):
            check.lsh_restricted(con, "SELECT 1")

    def test_tables_are_seeded(self):
        one, two = gen_tables.tables(0.001, 5), gen_tables.tables(0.001, 5)
        for name in one:
            pd.testing.assert_frame_equal(one[name], two[name])
        self.assertFalse(one["documents"].equals(gen_tables.tables(0.001, 6)["documents"]))
        self.assertEqual(len(one["lineitem"]), 6000)


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_emitted_metrics(self):
        with open("BENCHMARK.json") as fh:
            b = json.load(fh)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.per_layer_names())
        e2e = {m["name"] for m in b["end_to_end"]}
        self.assertEqual(e2e, {"setup_s", "peak_rss_mb", "op_p50_s", "ops_per_s"})
        self.assertEqual(max(m["bound"] for m in b["end_to_end"]),
                         next(m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s"))


class Smoke(unittest.TestCase):
    def test_every_workload_traced_and_untraced(self):
        self.assertTrue(run.smoke())


if __name__ == "__main__":
    unittest.main()
