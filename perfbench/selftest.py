"""Self-test of the answer checks in check.py; needs no JVM.

    python3 perfbench/selftest.py

Pins that a wrong answer, and an op that threw, each count as a failed op,
and that the independent oracles (exact Jaccard, clusters, streamed
triangle counts, DuckDB SQL) compute what they claim.
"""

import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def op(idx, template, oracle, params=None, error=None):
    return {"op": {"idx": idx, "template": template, "layer": "test", "params": params or {},
                   "oracle": oracle}, "error": error}


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.data = os.path.join(self.tmp, "data")
        os.makedirs(self.data)
        pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}), os.path.join(self.data, "t.parquet"))
        pq.write_table(pa.table({"doc_id": [0, 1, 2], "text": ["aaaa bbbb cccc", "aaaa bbbb cccc dddd", "zzzz"]}),
                       os.path.join(self.data, "documents.parquet"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def run_checks(self, ops, rows):
        return check.check_run(ops, rows, self.data, os.path.join(self.tmp, "cache"))

    def test_right_answers_pass(self):
        ops = [op(0, "q", {"kind": "sql", "sql": "SELECT k, v FROM t ORDER BY k"}),
               op(1, "q", {"kind": "sql", "sql": "SELECT 'a', NULL"})]
        rows = {0: [[1, 0.5], [2, 1.5 + 1e-9], [3, 2.5]], 1: [["a", None]]}
        self.assertEqual(self.run_checks(ops, rows), {})

    def test_injected_wrong_expected_answer_is_a_failure(self):
        ops = [op(0, "q", {"kind": "sql", "sql": "SELECT k, v + 1 FROM t ORDER BY k"}),
               op(1, "ingest_read", {"kind": "stream_counts", "rows": [["x", "2", None]]})]
        rows = {0: [[1, 0.5], [2, 1.5], [3, 2.5]], 1: [[0, 0], ["x", "1", None]]}
        self.assertEqual(sorted(self.run_checks(ops, rows)), [0, 1])

    def test_engine_error_is_a_failure(self):
        ops = [op(0, "q", {"kind": "sql", "sql": "SELECT 1"}, error="RuntimeException: boom")]
        self.assertIn("boom", self.run_checks(ops, {0: []})[0])

    def test_missing_or_extra_rows_fail(self):
        self.assertIsNotNone(check.compare([[1]], [[1], [2]]))
        self.assertIsNotNone(check.compare([[1], [2]], [[2], [1]]))

    def test_band(self):
        cands = [[1, 2, 0.9700001], [1, 3, 0.98], [2, 3, 0.9699999]]
        self.assertIsNone(check.compare_band([[1, 2, 0.97], [1, 3, 0.98]], cands, 0.970001))
        self.assertIsNone(check.compare_band([[1, 3, 0.98]], cands, 0.970001))
        self.assertIsNotNone(check.compare_band([[1, 2, 0.97]], cands, 0.970001))  # misses (1,3)
        self.assertIsNotNone(check.compare_band([[1, 3, 0.98], [1, 4, 0.99]], cands, 0.970001))

    def test_lsh_misses(self):
        minhash = {"curve": "minhash", "rows": 4, "bands": 16}
        self.assertAlmostEqual(check.lsh_miss(0.7, minhash), (1 - 0.7 ** 4) ** 16)
        self.assertEqual(check.allowed_misses([0.95] * 25, minhash), 0)
        cosine = {"curve": "cosine", "rows": 8, "bands": 64}
        self.assertAlmostEqual(check.lsh_miss(0.5, cosine), (1 - (2 / 3) ** 8) ** 64)
        self.assertEqual(check.allowed_misses([0.45] * 20, cosine), 7)
        cands = [[i, i + 1, 0.45] for i in range(20)]
        got = cands[:13]
        self.assertIsNone(check.compare_band(got, cands, 0.45, cosine))
        self.assertIsNotNone(check.compare_band(got[:12], cands, 0.45, cosine))
        self.assertIsNotNone(check.compare_band(got, cands, 0.45))  # no banding: every pair required

    def test_jaccard_and_compaction(self):
        docs = [(0, "aaaa bbbb cccc"), (1, "aaaa bbbb cccc dddd"), (2, "zzzz"), (3, "aaaa bbbb cccc")]
        pairs = check.jaccard_pairs(docs, "words", 2, 0.5)
        self.assertEqual([(a, b) for a, b, _ in pairs], [(0, 1), (0, 3), (1, 3)])
        self.assertAlmostEqual(pairs[0][2], 2 / 3)
        self.assertEqual(check.clusters(pairs), [(0, 0), (1, 0), (3, 0)])
        ops = [op(0, "compact", {"kind": "jaccard", "mode": "words", "k": 2, "threshold": 0.5,
                                 "output": "compact"})]
        self.assertEqual(self.run_checks(ops, {0: [[0], [2]]}), {})

    def test_stream_counts(self):
        replay = check.TriangleReplay()
        replay.add([["a", "b"], ["b", "c"], ["c", "a"], ["a", "a"], ["b", "a"]])
        self.assertEqual((replay.triangles, replay.edges), (1, 3))
        ops = [op(0, "ingest_write", {"kind": "stream_counts", "rows": []},
                  params={"edges": [["a", "b"], ["b", "c"], ["c", "a"]]}),
               op(1, "ingest_read", {"kind": "stream_counts", "rows": [["x", "1", None]]})]
        self.assertEqual(self.run_checks(ops, {0: [[1]], 1: [[1, 3], ["x", "1", None]]}), {})
        self.assertEqual(sorted(self.run_checks(ops, {0: [[0]], 1: [[1, 2], ["x", "1", None]]})), [0, 1])


if __name__ == "__main__":
    unittest.main()
