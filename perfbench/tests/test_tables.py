"""Seeded generation of the query workload's tables."""
import filecmp
import os
import tempfile
import unittest

from bench import tables


class SameSeedSameBytes(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            tables.write(a, 7)
            tables.write(b, 7)
            tables.write(c, 8)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            for n in names:
                self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n),
                                            shallow=False), n)
            # another seed changes every table that has random content
            for n in ["documents.parquet", "embeddings.parquet", "lineitem.parquet"]:
                self.assertFalse(filecmp.cmp(os.path.join(a, n), os.path.join(c, n),
                                             shallow=False), n)


class PlantedDuplicates(unittest.TestCase):
    def test_planted_pairs_are_near_duplicates(self):
        table, edges = tables.documents(3)
        self.assertGreater(len(edges), 5)
        texts = table.column("text").to_pylist()

        def shingles(t):
            w = t.split()
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
        for a, b in edges:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            self.assertGreaterEqual(len(sa & sb) / len(sa | sb), 0.8, (a, b))

    def test_truth_clusters_follow_planted_edges(self):
        truth = tables.planted_doc_clusters(3)
        _, edges = tables.documents(3)
        for a, b in edges:
            self.assertEqual(truth[a], truth[b])
        self.assertTrue(all(truth[i] <= i for i in truth))


if __name__ == "__main__":
    unittest.main()
