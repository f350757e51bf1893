"""Tests of the benchmark's input profile and output check. Run from
the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


class FixtureProfile(unittest.TestCase):
    def test_measures_planted_properties(self):
        base = ("w{} " * 40).format(*range(40)).strip()
        other = ("v{} " * 40).format(*range(40)).strip()
        near = base.replace("w20 ", "")              # one word deleted
        texts = [base, base, near, other + " a@b.com"] + \
                [("u%d " % i) * 3 + str(i) for i in range(4, 10)]
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "documents.parquet")
            pq.write_table(pa.table({"doc_id": pa.array(range(10), pa.int64()),
                                     "text": texts}), p)
            prof = gen.fixture_profile(p)
        originals = 10 - 1 - 1
        self.assertAlmostEqual(prof["exact_rate"], 1 / originals)
        self.assertAlmostEqual(prof["near_rate"], 1 / originals)
        self.assertEqual(prof["near_edit_words"], 1)
        self.assertAlmostEqual(prof["pii_rate"], 0.1)
        # doc 0 is held out; docs 1 and 2 share its 8-grams
        self.assertAlmostEqual(prof["contam_rate"], 2 / 9)

    def test_documents_fixture(self):
        prof = gen.fixture_profile()
        self.assertEqual(prof["docs"], 500)
        self.assertAlmostEqual(prof["near_rate"], 24 / 476)
        self.assertEqual(prof["near_edit_words"], 1)
        self.assertAlmostEqual(prof["contam_rate"], 6 / 450)
        self.assertEqual((prof["exact_rate"], prof["pii_rate"]), (0, 0))


class OracleCheck(unittest.TestCase):
    def test_mismatching_query_is_reported_bad(self):
        with tempfile.TemporaryDirectory() as d:
            dump = os.path.join(d, "catalog")
            for q, n in (("q_ok", 5), ("q_wrong", 4)):
                os.makedirs(os.path.join(dump, q))
                pq.write_table(pa.table({"n": pa.array([n], pa.int64())}),
                               os.path.join(dump, q, "part-0.parquet"))
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({q: "SELECT count(*) AS n FROM region"
                           for q in ("q_ok", "q_wrong", "q_missing")}, f)
            bad = run.oracle_check(dump, d, 60)
        self.assertEqual(sorted(bad), ["q_missing", "q_wrong"])


if __name__ == "__main__":
    unittest.main()
