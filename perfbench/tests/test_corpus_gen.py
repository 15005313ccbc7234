"""Seeded corpus input: determinism and stated properties.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import corpus_gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


class CorpusGenTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            paths = [os.path.join(d, n + ".parquet") for n in ("a", "b")]
            for p in paths:
                corpus_gen.write(11, p)
            with open(paths[0], "rb") as f, open(paths[1], "rb") as g:
                self.assertEqual(f.read(), g.read())

    def test_different_seed_gives_different_copies(self):
        self.assertNotEqual(corpus_gen.generate(11)[1], corpus_gen.generate(12)[1])

    def test_stated_properties_hold_for_every_seed(self):
        base = pq.read_table(corpus_gen.SF01_DOCUMENTS).to_pylist()
        by_id = {r["doc_id"]: r for r in base}
        for seed in (1, 2, 3):
            table, pairs = corpus_gen.generate(seed)
            rows = table.to_pylist()
            self.assertEqual(table.schema, pq.read_table(corpus_gen.SF01_DOCUMENTS).schema)
            # the sf0.1 table, unchanged, then the copies
            self.assertEqual(rows[:len(base)], base)
            copies = rows[len(base):]
            self.assertEqual(len(copies), round(len(base) * corpus_gen.NEAR_DUP_SHARE))
            self.assertEqual(len({src for _, src in pairs}), len(pairs))
            self.assertEqual(len({r["doc_id"] for r in rows}), len(rows))
            for row, (copy_id, src_id) in zip(copies, pairs):
                src = by_id[src_id]
                self.assertEqual(row["doc_id"], copy_id)
                self.assertGreater(copy_id, max(by_id))
                head, _, tok = row["text"].rpartition(" ")
                self.assertEqual(head, src["text"])
                self.assertIn(tok, src["text"].split(" "))
                self.assertEqual((row["lang"], row["source"]), (src["lang"], src["source"]))
                self.assertEqual(row["n_chars"], len(row["text"]))


if __name__ == "__main__":
    unittest.main()
