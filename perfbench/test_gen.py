"""The generators are deterministic: the same (workload, seed, ops) gives
byte-identical inputs, and another seed gives other inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import tempfile
import unittest

import gen


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in sorted(gen.GENERATORS):
            with tempfile.TemporaryDirectory() as d:
                a = gen.generate(w, 5, 1, os.path.join(d, "a"))["digest"]
                b = gen.generate(w, 5, 1, os.path.join(d, "b"))["digest"]
                c = gen.generate(w, 6, 1, os.path.join(d, "c"))["digest"]
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)


if __name__ == "__main__":
    unittest.main()
