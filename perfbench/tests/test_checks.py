"""The output checks count a deliberately corrupted output as a failed
operation and the run as incorrect, without running the program.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import checks, gen, workloads  # noqa: E402

LANG_SQL = ("SELECT lang, count(*) AS n_docs, sum(n_chars) AS n_chars "
            "FROM documents GROUP BY lang ORDER BY lang")


class QueryCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        gen.generate(self.data, seed=3, scale=0.0001, n_docs=60, n_vecs=20)
        self._cache, checks.CACHE = checks.CACHE, os.path.join(self.tmp, "cache")
        self._sql = checks.oracle_sql
        checks.oracle_sql = lambda cp, log, names: {"q_lang": LANG_SQL}

    def tearDown(self):
        checks.CACHE, checks.oracle_sql = self._cache, self._sql
        shutil.rmtree(self.tmp)

    def _result(self, corrupt_round):
        """Two rounds whose outputs are the oracle's own rows, one of
        them with a value changed."""
        con = checks.connect(self.data)
        rounds = []
        for r in range(2):
            out = os.path.join(self.tmp, f"out{r}", "q_lang")
            os.makedirs(out)
            df = con.sql(LANG_SQL).df()
            if r == corrupt_round:
                df.loc[0, "n_docs"] += 1
            con.register("frame", df)
            con.execute(f"COPY frame TO '{out}/part-00000.parquet' (FORMAT parquet)")
            con.unregister("frame")
            rounds.append({"round": r, "out": os.path.dirname(out),
                           "ops": [{"name": "q_lang", "ok": True, "error": None}]})
        return {"rounds": rounds}

    def test_clean_outputs_pass(self):
        v = checks.check("operators", self.data, {}, self._result(None), "", "")
        self.assertEqual((v["correct"], v["attempted"], v["failed"]), (True, 2, 0))

    def test_corrupted_output_is_a_failed_operation(self):
        v = checks.check("operators", self.data, {}, self._result(1), "", "")
        self.assertEqual((v["correct"], v["attempted"], v["failed"]), (False, 2, 1))
        self.assertIsNone(v["status"][(0, "q_lang")])
        self.assertIn("values differ", v["status"][(1, "q_lang")])

    def test_operation_that_threw_is_failed(self):
        res = self._result(None)
        res["rounds"][0]["ops"][0].update(ok=False, error="boom")
        v = checks.check("operators", self.data, {}, res, "", "")
        self.assertEqual((v["correct"], v["failed"]), (True, 1))


class IndexRowCountTest(unittest.TestCase):
    SIZE = {"start_docs": 20, "start_vecs": 10, "batches": 1}

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        gen.generate(self.data, seed=3, scale=0.0001, n_docs=40, n_vecs=20)
        workloads._split_ingest(self.data, 7, self.SIZE)
        self._cache, checks.CACHE = checks.CACHE, os.path.join(self.tmp, "cache")

    def tearDown(self):
        checks.CACHE = self._cache
        shutil.rmtree(self.tmp)

    def _result(self, ann_rows):
        """One round that appended its one batch to both indexes, whose
        files hold 40 documents (16 bands each) and `ann_rows` vectors."""
        idx = os.path.join(self.tmp, "index")
        for sub, rows in (("dedup/shingles", 40), ("dedup/bands", 16 * 40),
                          ("ann/cells", ann_rows)):
            os.makedirs(os.path.join(idx, sub))
            pq.write_table(pa.table({"id": list(range(rows))}),
                           os.path.join(idx, sub, "part-00000.parquet"))
        ops = [{"name": n, "ok": True, "error": None}
               for n in ("dedup_append_b00", "ann_append_b00")]
        return {"rounds": [{"round": 0, "index": idx, "out": "", "ops": ops}]}

    def test_row_counts_that_match_pass(self):
        v = checks.check("ingest", self.data, self.SIZE, self._result(20), "", "")
        self.assertEqual((v["correct"], v["failed"]), (True, 0))

    def test_wrong_row_count_is_incorrect(self):
        v = checks.check("ingest", self.data, self.SIZE, self._result(19), "", "")
        self.assertEqual((v["correct"], v["attempted"], v["failed"]), (False, 2, 1))
        self.assertEqual(v["status"][(0, "ann_append_b00")], "index row count")


class IngestCheckTest(unittest.TestCase):
    def test_pairs(self):
        exact = pd.DataFrame({"new_id": [5, 7], "dup_of": [1, 2], "jaccard": [0.9, 0.8125]})
        got = exact.iloc[[0]].copy()
        self.assertEqual(checks._check_pairs(got, exact), (None, 1))
        got.loc[0, "jaccard"] = 0.91
        reason, _ = checks._check_pairs(got, exact)
        self.assertIn("not an exact pair", reason)

    def test_hits(self):
        cos = duckdb.sql("SELECT 1 AS q_id, i AS n_id, 1.0 - i / 100.0 AS cos "
                         "FROM range(2, 30) t(i)").df()
        top = cos[cos.n_id < 12].rename(columns={"cos": "cos_sim"})
        self.assertEqual(checks._check_hits(top, cos), (None, 10, 10))
        bad = top.copy()
        bad.loc[bad.index[3], "cos_sim"] += 1e-5
        reason, _, _ = checks._check_hits(bad, cos)
        self.assertIn("exact cosine", reason)


if __name__ == "__main__":
    unittest.main()
