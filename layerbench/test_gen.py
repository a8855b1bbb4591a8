"""Self-test of the seeded input generator: a seed permutes rows and changes
nothing else. Run from the checkout root:

    python3 -m unittest layerbench/test_gen.py
"""
import os
import shutil
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import compare  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "selftest")


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        cls.dirs = {s: gen.generate(s, os.path.join(SCRATCH, f"seed-{s}")) for s in (1, 2)}
        cls.again = gen.generate(1, os.path.join(SCRATCH, "seed-1-again"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def read(self, d, name):
        return pq.ParquetFile(os.path.join(d, f"{name}.parquet"))

    def test_schema_and_row_multiset_kept(self):
        for name in gen.tables():
            base = self.read(gen.BASE, name)
            want = base.read()
            cols = want.column_names
            for seed, d in self.dirs.items():
                with self.subTest(table=name, seed=seed):
                    out = self.read(d, name)
                    # the physical parquet schema (timestamp unit, int widths)
                    self.assertTrue(out.schema.equals(base.schema),
                                    f"{out.schema}\n!=\n{base.schema}")
                    got = out.read()
                    self.assertEqual(got.schema, want.schema)
                    self.assertEqual(compare.table_rows(got, cols),
                                     compare.table_rows(want, cols))

    def test_seed_permutes_and_repeats(self):
        for name in gen.tables():
            base = self.read(gen.BASE, name).read()
            one = self.read(self.dirs[1], name).read()
            with self.subTest(table=name):
                self.assertTrue(one.equals(self.read(self.again, name).read()))
                if base.num_rows > 2:
                    self.assertFalse(one.equals(base))
                    self.assertFalse(one.equals(self.read(self.dirs[2], name).read()))


if __name__ == "__main__":
    unittest.main()
