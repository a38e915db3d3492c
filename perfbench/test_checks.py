"""Tests for the DuckDB-side output checks in checks.py.

Run from the repository root: python3 -m unittest perfbench/test_checks.py
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402


def write_documents(dir_, rows):
    import duckdb
    con = duckdb.connect()
    values = ", ".join(f"({i}, '{t}')" for i, t in rows)
    con.execute(f"COPY (SELECT * FROM (VALUES {values}) AS t(doc_id, text)) "
                f"TO '{dir_}/documents.parquet' (FORMAT PARQUET)")
    con.close()


class ManifestTest(unittest.TestCase):
    SQL = ("SELECT CAST(doc_id % 2 AS INT) AS shard, count(*) AS n_docs, "
           "CAST(sum(length(text)) AS BIGINT) AS n_chars, "
           "md5(string_agg(text, ',' ORDER BY doc_id)) AS checksum, "
           "TRUE AS readback_match FROM documents GROUP BY 1")

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        write_documents(self.dir, [(0, "a b"), (1, "c"), (2, "d e f")])
        self.ref = checks.oracle_manifest(self.dir, self.SQL)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_reference_is_order_free(self):
        self.assertEqual(len(self.ref), 2)
        self.assertEqual(checks.manifest_key(list(reversed(self.ref))), self.ref)

    def test_matching_manifest_passes(self):
        self.assertEqual(checks.check_manifests([self.ref, self.ref], self.ref), [])

    def test_corrupted_manifest_fails(self):
        shard, n, chars, digest = self.ref[0]
        wrong_count = [(shard, n + 1, chars, digest)] + self.ref[1:]
        wrong_digest = [(shard, n, chars, "0" * 32)] + self.ref[1:]
        missing = self.ref[1:]
        bad = checks.check_manifests([self.ref, wrong_count, wrong_digest, missing],
                                     self.ref)
        self.assertEqual(len(bad), 3)
        self.assertIn("manifest 1", bad[0])


if __name__ == "__main__":
    unittest.main()
