"""Tests of the benchmark's input generators and reference models.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import filecmp
import os
import shutil
import tempfile
import unittest

import gen

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_work")


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=WORK, prefix="test-gen-")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def tx_inputs(self, seed, name):
        d = os.path.join(self.dir, name)
        os.makedirs(d)
        gen.write_json(os.path.join(d, "expected.json"),
                       {"batches": gen.tx_plan(d, seed, 20, 6, 0.01)[2]})
        return d

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = (os.path.join(self.dir, n) for n in ("a.csv", "b.csv", "c.csv"))
        gen.write_wide_csv(a, 7, 30)
        gen.write_wide_csv(b, 7, 30)
        gen.write_wide_csv(c, 8, 30)
        self.assertTrue(filecmp.cmp(a, b, shallow=False))
        self.assertFalse(filecmp.cmp(a, c, shallow=False))
        x, y, z = self.tx_inputs(7, "x"), self.tx_inputs(7, "y"), self.tx_inputs(8, "z")
        names = ["expected.json", "fact.parquet"] + [
            os.path.join("changes", n) for n in sorted(os.listdir(os.path.join(x, "changes")))]
        self.assertEqual(filecmp.cmpfiles(x, y, names, shallow=False)[0], names)
        self.assertEqual(filecmp.cmpfiles(x, z, names, shallow=False)[0], [])

    def test_wide_csv_carries_the_edge_rows(self):
        path = os.path.join(self.dir, "w.csv")
        model = gen.write_wide_csv(path, 3, 60)
        with open(path) as f:
            rows = list(csv.reader(f))
        header, body = rows[0], rows[1:]
        self.assertEqual(header[:3], ["Entity", "Code", "Year"])
        self.assertIn("Coverage__MenA", header)
        years = {int(r[2]) for r in body}
        self.assertTrue({1979, 2101} <= years)
        self.assertTrue(any(all(c == "" for c in r[3:]) for r in body))
        keys = [(r[0], r[2]) for r in body]
        self.assertGreater(len(keys), len(set(keys)))
        # the model is exactly the non-empty in-range cells, deduplicated
        want = {}
        for r in body:
            if 1980 <= int(r[2]) <= 2100:
                for h, cell in zip(header[3:], r[3:]):
                    if cell:
                        want[(r[0], h[len("coverage__"):], int(r[2]))] = float(cell)
        self.assertEqual(model, want)

    def test_exact_mean_matches_the_engine_formula(self):
        self.assertEqual(gen.exact_mean([87.3, 12.1]), 49.7)
        self.assertIsNone(gen.exact_mean([]))

    def test_changesets_touch_each_key_once_and_replay(self):
        fact = gen.tx_keyed_fact(gen.wide_csv(5, 20)[1])
        batches = gen.changesets(5, fact, 8, 0.01)
        keys = [row[0] for batch in batches for _, row in batch]
        self.assertEqual(len(keys), len(set(keys)))
        for batch in batches:
            self.assertEqual({op for op, _ in batch}, {"insert", "update", "delete"})
            self.assertLessEqual(len({row[5] for _, row in batch}), 3)
        state = gen.replay(fact, batches)
        inserted = sum(op == "insert" for b in batches for op, _ in b)
        deleted = sum(op == "delete" for b in batches for op, _ in b)
        self.assertEqual(len(state), len(fact) + inserted - deleted)


if __name__ == "__main__":
    unittest.main()
