"""Generator contract: deterministic per seed, distinct across seeds, and the
planted near-duplicates are what the manifest says they are."""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def read(root, table):
    return pq.read_table(os.path.join(root, f"{table}.parquet")).to_pydict()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def make(self, workload, seed, name):
        out = os.path.join(self.tmp.name, name)
        return out, gen.generate(workload, seed, out)

    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            a, ma = self.make(w, 7, f"{w}-a")
            b, mb = self.make(w, 7, f"{w}-b")
            self.assertEqual(tree_digest(a), tree_digest(b), w)
            self.assertEqual(ma, mb, w)

    def test_distinct_seeds_distinct_inputs(self):
        for w in gen.WORKLOADS:
            a, _ = self.make(w, 1, f"{w}-1")
            b, _ = self.make(w, 2, f"{w}-2")
            self.assertNotEqual(tree_digest(a), tree_digest(b), w)
            self.assertNotEqual(read(a, "documents")["text"], read(b, "documents")["text"], w)

    def test_manifest_counts_match_files(self):
        for w in gen.WORKLOADS:
            root, m = self.make(w, 3, w)
            for table, info in m["tables"].items():
                t = pq.read_table(os.path.join(root, f"{table}.parquet"))
                self.assertEqual(t.num_rows, info["rows"], (w, table))
            self.assertEqual(m["tables"]["documents"]["files"], gen.WORKLOADS[w]["files"])

    def test_planted_pairs(self):
        root, m = self.make("nightly", 5, "n")
        docs = read(root, "documents")
        text = dict(zip(docs["doc_id"], docs["text"]))
        self.assertTrue(m["doc_pairs"])
        for src, copy in m["doc_pairs"]:
            self.assertEqual(text[copy], text[src].rsplit(" ", 1)[0])


if __name__ == "__main__":
    unittest.main()
