"""The benchmark's own tests. From the root of a checkout:

    python3 -m unittest perfbench/test_bench.py

They cover the seeded generator (same seed, same bytes; another seed,
other bytes), and, through `graftbench.SelfTest` on the compiled classes,
the tail-percentile rule and the order- and partition-invariance of the
result digest.
"""

import filecmp
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.BUILD, "test")


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        for name, seed in (("a", 11), ("b", 11), ("c", 12)):
            gen.make_corpus(seed, os.path.join(SCRATCH, name))

    def files(self, name):
        return sorted(os.listdir(os.path.join(SCRATCH, name)))

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.files("a"), self.files("b"))
        match, mismatch, errors = filecmp.cmpfiles(
            os.path.join(SCRATCH, "a"), os.path.join(SCRATCH, "b"), self.files("a"),
            shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(len(match), 9)

    def test_other_seed_gives_other_inputs(self):
        for f in ("stream.parquet", "history.parquet", "stream_emb.parquet"):
            self.assertFalse(filecmp.cmp(os.path.join(SCRATCH, "a", f),
                                         os.path.join(SCRATCH, "c", f), shallow=False), f)

    def test_ground_truth_shares(self):
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(SCRATCH, "a", "stream.parquet")).to_pydict()
        self.assertEqual(len(t["doc_id"]), gen.BATCH * gen.BATCHES)
        for kind in gen.KINDS:
            self.assertIn(kind, t["kind"])
        ids = set(t["doc_id"])
        for kind, src in zip(t["kind"], t["src_id"]):
            if kind == "exact_dup" and src >= gen.STREAM_ID0:
                self.assertIn(src, ids)

    def test_serve_terms_have_k_history_docs(self):
        import pyarrow.parquet as pq
        history = pq.read_table(os.path.join(SCRATCH, "a", "history.parquet")).column("text")
        docs = [set(t.split()) for t in history.to_pylist()]
        for term in pq.read_table(os.path.join(SCRATCH, "a", "serve_terms.parquet")).column("term").to_pylist():
            self.assertGreaterEqual(sum(term in d for d in docs), gen.MIN_DF, term)


class SelfTest(unittest.TestCase):

    def test_tail_rule_and_digest(self):
        jars = run.spark_jars()
        classes = run.build(jars)
        r = subprocess.run(
            ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in run.JAVA_OPENS] +
            ["-Xmx1g", f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graftbench.SelfTest"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])


if __name__ == "__main__":
    unittest.main()
