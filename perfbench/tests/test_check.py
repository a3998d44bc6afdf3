import decimal
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import gen  # noqa: E402


class Canonicalization(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = check.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = check.fingerprint(["A", "B"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_floats_compare_at_six_places(self):
        self.assertEqual(check.fingerprint(["x"], [(0.1 + 0.2,)]),
                         check.fingerprint(["x"], [(0.3,)]))
        self.assertNotEqual(check.fingerprint(["x"], [(0.300001,)]),
                            check.fingerprint(["x"], [(0.3,)]))

    def test_decimals(self):
        # integral decimal (HUGEINT sum) hashes like a BIGINT ...
        self.assertEqual(check.canon_value(decimal.Decimal("12")), "12")
        # ... a fractional scale hashes like a DOUBLE, even when integral
        self.assertEqual(check.canon_value(decimal.Decimal("1.0")), "1.000000")
        self.assertEqual(check.canon_value(1.0), "1.000000")
        self.assertEqual(check.canon_value(True), "True")
        self.assertEqual(check.canon_value(None), "None")

    def test_row_count_is_part_of_the_fingerprint(self):
        one = check.fingerprint(["x"], [(1,)])
        two = check.fingerprint(["x"], [(1,), (1,)])
        self.assertEqual((one["rows"], two["rows"]), (1, 2))
        self.assertNotEqual(one, two)


class OracleCompare(unittest.TestCase):
    def test_matching_and_mismatching_outputs(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            data = os.path.join(d, "data")
            gen.generate(data, 5)
            sql = ("SELECT l_returnflag, count(*) AS n, round(avg(l_tax), 6) AS t "
                   "FROM lineitem GROUP BY 1")
            con = duckdb.connect()
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                        f"read_parquet('{data}/lineitem.parquet')")
            for q, body in (("good", sql), ("bad", sql.replace("count(*)", "count(*) + 1"))):
                os.makedirs(os.path.join(d, "out", q))
                con.execute(f"COPY ({body}) TO '{d}/out/{q}/part-0.parquet' (FORMAT parquet)")
            queries = ["good", "bad", "none"]
            oracle = check.oracle_fingerprints(data, {"good": sql, "bad": sql}, queries)
            verdict = check.compare(os.path.join(d, "out"), oracle, queries)
            self.assertIsNone(verdict["good"])
            self.assertIn("!=", verdict["bad"])
            self.assertEqual(verdict["none"], "no oracle SQL")


class OracleCache(unittest.TestCase):
    def test_cached_by_inputs_and_sql(self):
        import run
        calls = []

        def fake(data_dir, oracle_sql, queries):
            calls.append(sorted(queries))
            return {q: ({"rows": len(oracle_sql[q])} if q in oracle_sql
                        else "no oracle SQL") for q in queries}

        with tempfile.TemporaryDirectory() as d:
            saved = run.ORACLE_CACHE, check.oracle_fingerprints
            run.ORACLE_CACHE, check.oracle_fingerprints = d, fake
            try:
                sql = {"a": "SELECT 1", "b": "SELECT 22"}
                first = run.cached_oracle("data", "in1", sql, ["a", "b", "c"])
                again = run.cached_oracle("data", "in1", sql, ["a", "b", "c"])
                run.cached_oracle("data", "in2", sql, ["a"])
                run.cached_oracle("data", "in1", {"a": "SELECT 333"}, ["a"])
            finally:
                run.ORACLE_CACHE, check.oracle_fingerprints = saved
        self.assertEqual(first, again)
        self.assertEqual(first, {"a": {"rows": 8}, "b": {"rows": 9},
                                 "c": "no oracle SQL"})
        # the missing oracle is asked again; other inputs or SQL miss the cache
        self.assertEqual(calls, [["a", "b", "c"], ["c"], ["a"], ["a"]])


if __name__ == "__main__":
    unittest.main()
