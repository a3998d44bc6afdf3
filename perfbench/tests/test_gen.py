import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 11, 2)
            b = gen.generate(os.path.join(d, "b"), 11, 2)
            self.assertEqual(a, b)
            files = sorted(os.path.relpath(os.path.join(b, f), os.path.join(d, "a"))
                           for b, _, fs in os.walk(os.path.join(d, "a")) for f in fs)
            self.assertIn(os.path.join("documents.parquet", "part-00001.parquet"), files)
            for rel in files:
                with open(os.path.join(d, "a", rel), "rb") as f, \
                        open(os.path.join(d, "b", rel), "rb") as g:
                    self.assertEqual(f.read(), g.read(), rel)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 11)
            b = gen.generate(os.path.join(d, "b"), 12)
            self.assertNotEqual(a["sha256"], b["sha256"])
            self.assertEqual({t: s["rows"] for t, s in a["tables"].items()},
                             {t: s["rows"] for t, s in b["tables"].items()})


class Scaling(unittest.TestCase):
    def test_expansion_makes_near_duplicate_copies(self):
        base, scaled = gen.tables(3), gen.tables(3, scale=3)
        for t in gen.TABLES[:8]:
            self.assertTrue(base[t].equals(scaled[t]), t)
        docs = scaled["documents"].to_pydict()
        nd = base["documents"].num_rows
        self.assertEqual(len(docs["doc_id"]), 3 * nd)
        self.assertEqual(len(set(docs["doc_id"])), 3 * nd)
        self.assertEqual(docs["text"][:nd], base["documents"].column("text").to_pylist())
        same_len, exact = 0, 0
        for i in range(nd):
            a, b = docs["text"][i].split(), docs["text"][nd + i].split()
            same_len += len(a) == len(b)
            exact += a == b
            shared = sum(x == y for x, y in zip(a, b)) / len(a)
            self.assertGreater(shared, 0.5)
        self.assertEqual(same_len, nd)
        self.assertLess(exact, nd * 0.1)
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])

        emb = scaled["embeddings"]
        ne = base["embeddings"].num_rows
        vecs = np.array(emb.column("embedding").to_pylist())
        self.assertEqual(vecs.shape, (3 * ne, gen.EMB_DIM))
        np.testing.assert_allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
        cos = (vecs[:ne] * vecs[ne:2 * ne]).sum(axis=1)
        self.assertTrue((cos > 0.8).all() and (cos < 1.0).all())


if __name__ == "__main__":
    unittest.main()
