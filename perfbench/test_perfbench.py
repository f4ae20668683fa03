"""Tests of the benchmark's Python side: seeded table generation and the
oracle comparison. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import tables  # noqa: E402


class TablesTest(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_differs(self):
        a, b, c = tables.tables(5, 0.001), tables.tables(5, 0.001), tables.tables(6, 0.001)
        self.assertEqual(sorted(a), sorted(tables.TABLES))
        for name in tables.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))

    def test_corpus_has_near_duplicates(self):
        docs = tables.tables(1, 0.001)["documents"].column("text").to_pylist()
        self.assertTrue(any(t.endswith(" dup") for t in docs))


class OracleCompareTest(unittest.TestCase):
    COLS = ["k", "ts", "v"]
    ROWS = [(1, datetime.datetime(2024, 1, 1, 0, 0, 1), 0.123456),
            (2, datetime.datetime(2024, 1, 2), None)]

    def test_order_and_representation_do_not_matter(self):
        utc = datetime.timezone.utc
        other = [(2, datetime.datetime(2024, 1, 2, tzinfo=utc), None),
                 (1, datetime.datetime(2024, 1, 1, 0, 0, 1), decimal.Decimal("0.12346"))]
        self.assertIsNone(oracle.compare((self.COLS, self.ROWS), (self.COLS, other)))
        self.assertIsNone(oracle.compare((self.COLS, self.ROWS),
                                         (["v", "k", "ts"], [(r[2], r[0], r[1]) for r in self.ROWS])))

    def test_a_perturbed_result_fails(self):
        bad_value = [(1, self.ROWS[0][1], 0.1236), self.ROWS[1]]
        bad_ts = [(1, datetime.datetime(2024, 1, 1, 0, 0, 2), 0.123456), self.ROWS[1]]
        self.assertIsNotNone(oracle.compare((self.COLS, bad_value), (self.COLS, self.ROWS)))
        self.assertIsNotNone(oracle.compare((self.COLS, bad_ts), (self.COLS, self.ROWS)))
        self.assertIsNotNone(oracle.compare((self.COLS, self.ROWS[:1]), (self.COLS, self.ROWS)))
        self.assertIsNotNone(oracle.compare((["k", "ts", "w"], self.ROWS), (self.COLS, self.ROWS)))

    def test_integer_versus_float_drift_fails(self):
        self.assertIsNotNone(oracle.compare((["n"], [(5,)]), (["n"], [(5.0,)])))

    def test_dump_round_trip(self):
        import json
        import tempfile
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.write(json.dumps(self.COLS) + "\n")
            f.write('[1,{"$ts":1704067201000000},0.123456]\n[2,{"$ts":1704153600000000},null]\n')
        try:
            self.assertIsNone(oracle.compare(oracle.load_dump(f.name), (self.COLS, self.ROWS)))
        finally:
            os.unlink(f.name)


if __name__ == "__main__":
    unittest.main()
