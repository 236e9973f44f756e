"""Pins the generator's determinism: the same seed writes byte-identical
files, another seed writes different ones.

    python3 -m unittest e2ebench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def _digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            if p.endswith(".csv"):  # the catalog picks the newest raw file by mtime
                h.update(str(int(os.path.getmtime(p))).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def _files(self, make):
        with tempfile.TemporaryDirectory() as d:
            make(d)
            return _digest(d)

    def test_etl_same_seed_same_bytes(self):
        a = self._files(lambda d: gen.generate_etl(0, 7, d))
        self.assertEqual(a, self._files(lambda d: gen.generate_etl(0, 7, d)))
        self.assertNotEqual(a, self._files(lambda d: gen.generate_etl(0, 8, d)))
        self.assertNotEqual(a, self._files(lambda d: gen.generate_etl(1, 7, d)))

    def test_corpus_same_seed_same_bytes(self):
        a = self._files(lambda d: gen.generate_corpus(7, d))
        self.assertEqual(a, self._files(lambda d: gen.generate_corpus(7, d)))
        self.assertNotEqual(a, self._files(lambda d: gen.generate_corpus(8, d)))

    def test_churn_is_planted_as_stated(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.generate_etl(0, 7, d)
        s1, s2 = t["snap1"], t["snap2"]
        for e in ("creditos", "radicados"):
            n = len(s1[e])
            self.assertTrue(0.02 * n < len(s2[e + "_modified"]) < 0.04 * n)
            self.assertTrue(0.005 * n < len(s2[e + "_deleted"]) < 0.015 * n)
            self.assertEqual(len(s2[e + "_added"]), n // 100)
        # some creditos changes touch only a date audit column
        old = {r["Crédito"]: r for r in s1["creditos"]}
        date_only = [r for r in s2["creditos"] if r["Crédito"] in s2["creditos_modified"]
                     and all(r[c] == old[r["Crédito"]][c] for c in gen.CREDITOS_AUDIT_PLAIN)]
        self.assertTrue(date_only)


if __name__ == "__main__":
    unittest.main()
