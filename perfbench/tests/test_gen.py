import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# scratch space inside the checkout, next to the benchmark's own runs
SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "tests")
os.makedirs(SCRATCH, exist_ok=True)

import gen  # noqa: E402
import run  # noqa: E402


class GenTest(unittest.TestCase):
    def test_documents_same_seed_same_rows(self):
        self.assertTrue(gen.documents(7, 2000).equals(gen.documents(7, 2000)))

    def test_documents_other_seed_other_rows(self):
        a, b = gen.documents(7, 2000), gen.documents(8, 2000)
        self.assertEqual(a.column("doc_id"), b.column("doc_id"))
        self.assertNotEqual(a.column("text"), b.column("text"))

    def test_documents_pinned_schema(self):
        # graft.sources.Tables pins documents as
        # doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT
        d = gen.documents(1, 100)
        self.assertEqual([(f.name, str(f.type)) for f in d.schema],
                         [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                          ("source", "string"), ("n_chars", "int64")])
        self.assertEqual(d.column("n_chars").to_pylist(),
                         [len(t) for t in d.column("text").to_pylist()])

    def test_every_workload_writes_identical_bytes_per_seed(self):
        for workload in gen.WORKLOADS:
            with tempfile.TemporaryDirectory(dir=SCRATCH) as t:
                digests = []
                for seed in (3, 3, 4):
                    out = os.path.join(t, "s%d-%d" % (seed, len(digests)))
                    gen.generate(workload, seed, out)
                    digests.append(run.tree_digest(out))
                self.assertEqual(digests[0], digests[1], workload)
                self.assertNotEqual(digests[0], digests[2], workload)


if __name__ == "__main__":
    unittest.main()
