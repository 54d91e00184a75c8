"""The seeded input generator: deterministic per seed, different across
seeds, and producing a unique merge key. Needs the test tables.
Run with: python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
SOURCE = os.path.join(DATA, "sf0.01", "lineitem.parquet")


@unittest.skipUnless(os.path.isfile(SOURCE), "needs the test tables")
class GeneratorTest(unittest.TestCase):
    def setUp(self):
        work = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(work, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=work)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def generate(self, name, seed):
        return gen.generate(SOURCE, os.path.join(self.tmp, name), seed)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.generate("a", 5), self.generate("b", 5))

    def test_other_seed_other_inputs(self):
        a = {i["name"]: i["digest"] for i in self.generate("a", 5)}
        b = {i["name"]: i["digest"] for i in self.generate("b", 6)}
        self.assertTrue(all(a[k] != b[k] for k in a))

    def test_key_is_unique_and_steps_follow_the_cycle(self):
        self.generate("a", 7)
        base = pq.read_table(os.path.join(self.tmp, "a", "base"))
        keys = list(zip(base.column("l_orderkey").to_pylist(),
                        base.column("l_linenumber").to_pylist()))
        self.assertEqual(len(keys), len(set(keys)))
        with open(os.path.join(self.tmp, "a", "stream.tsv")) as fh:
            kinds = [line.split("\t")[1] for line in fh]
        self.assertGreater(len(kinds), len(gen.CYCLE))
        self.assertEqual(kinds[:len(gen.CYCLE)], list(gen.CYCLE))


if __name__ == "__main__":
    unittest.main()
