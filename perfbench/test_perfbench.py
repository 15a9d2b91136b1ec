"""Tests of the benchmark's own arithmetic and answer checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import importlib.util
import os
import tempfile
import unittest

import stats
import oracle
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(range(1, 101)), (90, 90.0, 10))
        self.assertEqual(stats.tail(range(1, 201)), (190, 95.0, 10))
        self.assertEqual(stats.tail(range(1, 1001)), (990, 99.0, 10))
        self.assertEqual(stats.tail(range(1, 41)), (30, 75.0, 10))

    def test_percentile_moves_smoothly_with_the_sample_count(self):
        self.assertEqual(stats.tail(range(1, 81)), (70, 87.5, 10))
        self.assertEqual(stats.tail(range(1, 22)), (11, 100.0 * 11 / 21, 10))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (3, 50.0, 1))
        self.assertEqual(stats.tail(range(1, 21)), (10.5, 50.0, 10))

    def test_tail_never_below_median(self):
        for n in range(1, 300):
            xs = [float(i * i % 97) for i in range(n)]
            self.assertGreaterEqual(stats.tail(xs)[0], stats.median(xs))


class FailFrac(unittest.TestCase):
    raw = {"workload": "analytics", "ops": [
        ["q1", False, 5.0, True, 3, False],
        ["q1", True, 6.0, True, 3, False],
        ["q6", False, 7.0, False, 1, False],
        ["q9", False, 8.0, True, 2, False]]}

    def test_driver_marked_failures_count(self):
        ops = run.op_list(self.raw, {})
        self.assertEqual(stats.fail_frac(ops), 0.25)

    def test_oracle_mismatch_fails_every_op_of_that_query(self):
        ops = run.op_list(self.raw, {"q1": (False, "hash mismatch"), "q9": (True, "ok")})
        self.assertEqual([o["ok"] for o in ops], [False, False, False, True])
        self.assertEqual(stats.fail_frac(ops), 0.75)

    def test_ingest_state_mismatch_fails_its_stream(self):
        raw = {"workload": "ingest", "ops": [
            ["substring.batch", True, 1.0, True, 10, False],
            ["lsh.read", False, 1.0, True, 2, False]]}
        ops = run.op_list(raw, {"dd17_incremental_index": (False, "rows 1 != 2")})
        self.assertEqual([o["ok"] for o in ops], [True, False])

    def test_no_operations_is_all_failed(self):
        self.assertEqual(stats.fail_frac([]), 1.0)


class Spread(unittest.TestCase):
    def test_quartiles_and_spread(self):
        xs = [10.0, 11.0, 9.0, 10.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual(q2, 10.0)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_worse_by_respects_direction(self):
        self.assertAlmostEqual(stats.worse_by(100.0, 110.0, "lower"), 0.1)
        self.assertAlmostEqual(stats.worse_by(100.0, 110.0, "higher"), -0.1)


def oracle_check_module():
    path = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Digest(unittest.TestCase):
    cols = ["b", "a", "c", "d", "e"]
    rows = [(1.23456789, "x", None, True, datetime.datetime(2024, 1, 2, 3, 4, 5)),
            (-0.0, "中文", 3, False, datetime.date(2020, 5, 6)),
            (0.0000004, "", 2**40, None, [1, 2])]

    def test_normalisation_matches_oracle_check(self):
        ref = oracle_check_module()
        for r in self.rows:
            for v in r:
                self.assertEqual(oracle.norm_cell(v), ref.norm_cell(v))
        self.assertEqual(oracle.frame_hash(self.cols, self.rows),
                         ref.frame_hash(self.cols, self.rows))

    def test_hash_ignores_column_order_not_row_order(self):
        perm = [1, 0, 2, 3, 4]
        cols = [self.cols[i] for i in perm]
        rows = [tuple(r[i] for i in perm) for r in self.rows]
        self.assertEqual(oracle.frame_hash(cols, rows), oracle.frame_hash(self.cols, self.rows))
        self.assertNotEqual(oracle.frame_hash(self.cols, self.rows[::-1]),
                            oracle.frame_hash(self.cols, self.rows))


class OracleCheck(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.dir = tempfile.mkdtemp()
        data, self.ref = os.path.join(self.dir, "data"), os.path.join(self.dir, "ref")
        os.makedirs(data)
        os.makedirs(self.ref)
        con = duckdb.connect()
        con.execute(f"COPY (SELECT i AS k, i * 0.5 AS v FROM range(5) t(i)) "
                    f"TO '{data}/t.parquet' (FORMAT parquet)")
        con.execute(f"COPY (SELECT k, sum(v) AS s FROM '{data}/t.parquet' GROUP BY k ORDER BY k) "
                    f"TO '{self.ref}/part-0.parquet' (FORMAT parquet)")
        con.close()
        self.con = oracle.connect(data)
        self.sql = "SELECT k, sum(v) AS s FROM t GROUP BY k ORDER BY k"

    def tearDown(self):
        self.con.close()
        import shutil
        shutil.rmtree(self.dir)

    def test_matching_answer_passes(self):
        self.assertEqual(oracle.check(self.con, self.ref, self.sql), (True, "ok"))

    def test_corrupted_digest_fails(self):
        ok, why = oracle.check(self.con, self.ref, self.sql, corrupt=True)
        self.assertFalse(ok)
        self.assertEqual(why, "hash mismatch")

    def test_wrong_rows_fail(self):
        ok, _ = oracle.check(self.con, self.ref, self.sql.replace("ORDER BY k", "ORDER BY k DESC"))
        self.assertFalse(ok)
        ok, _ = oracle.check(self.con, self.ref, self.sql.replace("ORDER BY k", "ORDER BY k DESC"),
                             unordered=True)
        self.assertTrue(ok)


if __name__ == "__main__":
    unittest.main()
