import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402

import gen  # noqa: E402


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.t = gen.make_tables(11, 0.001)

    def test_same_seed_same_tables(self):
        again = gen.make_tables(11, 0.001)
        for name in gen.TABLES:
            self.assertTrue(self.t[name].equals(again[name]), name)

    def test_other_seed_other_tables(self):
        other = gen.make_tables(12, 0.001)
        self.assertFalse(self.t["orders"].equals(other["orders"]))
        self.assertFalse(self.t["documents"].equals(other["documents"]))

    def test_sizes_follow_scale(self):
        n = gen.sizes(0.001)
        self.assertEqual(self.t["orders"].num_rows, n["orders"])
        self.assertEqual(self.t["lineitem"].num_rows, n["lineitem"])
        self.assertEqual(gen.sizes(0.01)["orders"], 10 * n["orders"])

    def test_keys_unique_and_foreign_keys_resolve(self):
        gen.check_tables(self.t)

    def test_duplicate_key_is_caught(self):
        bad = dict(self.t)
        o = self.t["orders"]
        keys = o["o_orderkey"].to_numpy().copy()
        keys[1] = keys[0]
        bad["orders"] = o.set_column(0, "o_orderkey", pa.array(keys))
        with self.assertRaises(AssertionError):
            gen.check_tables(bad)

    def test_dangling_foreign_key_is_caught(self):
        bad = dict(self.t)
        li = self.t["lineitem"]
        keys = li["l_orderkey"].to_numpy().copy()
        keys[0] = 10 ** 9
        bad["lineitem"] = li.set_column(0, "l_orderkey", pa.array(keys))
        with self.assertRaises(AssertionError):
            gen.check_tables(bad)

    def test_day2_adds_only_the_seeded_slice(self):
        day1, day2, delta = gen.split_days(self.t, 11)
        gen.check_days(day1, day2, delta)
        self.assertEqual(day1["orders"].num_rows + delta["orders"].num_rows,
                         self.t["orders"].num_rows)
        self.assertEqual(delta["orders"].num_rows, int(self.t["orders"].num_rows * 0.05))
        self.assertGreater(delta["customer"].num_rows, 0)
        self.assertEqual(gen.split_days(self.t, 11)[2]["customer"]["c_custkey"].to_pylist(),
                         delta["customer"]["c_custkey"].to_pylist())

    def test_day2_change_outside_the_slice_is_caught(self):
        day1, day2, delta = gen.split_days(self.t, 11)
        day2 = dict(day2)
        p = day2["part"]
        day2["part"] = p.set_column(5, "p_retailprice",
                                    pa.array(p["p_retailprice"].to_numpy() + 1))
        with self.assertRaises(AssertionError):
            gen.check_days(day1, day2, delta)

    def test_near_duplicate_documents_exist(self):
        texts = self.t["documents"]["text"].to_pylist()
        dups = [x for x in texts if x.endswith(" dup")]
        self.assertTrue(dups)
        base = set(texts)
        self.assertTrue(any(x.rsplit(" dup", 2)[0] in base for x in dups))

    def test_embeddings_are_unit_vectors(self):
        v = np.stack(self.t["embeddings"]["embedding"].to_numpy(zero_copy_only=False))
        self.assertTrue(np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5))


if __name__ == "__main__":
    unittest.main()
