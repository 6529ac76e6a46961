"""The same seed gives byte-identical benchmark inputs; another seed does not.

    python3 -m pytest perfbench/test_gen.py
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen


def digest(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def make(seed, root):
    gen.tables(seed, os.path.join(root, "tables"))
    gen.semantic(seed, os.path.join(root, "semantic"))
    return gen.corpus(seed, os.path.join(root, "corpus", "documents.parquet"))


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            make(7, a)
            make(7, b)
            make(8, c)
            self.assertEqual(digest(a), digest(b))
            da, dc = digest(a), digest(c)
            self.assertEqual(da.keys(), dc.keys())
            self.assertTrue(all(da[k] != dc[k] for k in da))

    def test_corpus_shares(self):
        with tempfile.TemporaryDirectory() as a:
            info = make(3, a)
        c = gen.CORPUS
        self.assertEqual(info["docs"], c["docs"])
        self.assertAlmostEqual(info["shares"]["exact"], c["exact_share"], delta=1 / c["docs"])
        self.assertAlmostEqual(info["shares"]["near"], c["near_share"], delta=1 / c["docs"])
        self.assertGreater(info["shares"]["boiler"], 0)

    def test_manifest_counts(self):
        with tempfile.TemporaryDirectory() as a:
            info = gen.semantic(5, a)
            entries = []
            for k in range(gen.REVISIONS):
                with open(os.path.join(a, f"rev{k}.json")) as f:
                    entries += json.load(f)["metrics"].values()
            with open(os.path.join(a, "probe.json")) as f:
                probe = list(json.load(f)["metrics"].values())
        for exp, n in zip(info["expected"], info["sizes"]["metrics_per_revision"]):
            self.assertEqual(exp["metrics"], n)
            self.assertGreaterEqual(exp["malformed"], 1)
        calcs = {m["calc"] for m in info["revisions"][0].values()}
        self.assertTrue(set(gen.CALC_METHODS) <= calcs)
        types = {m["type"] for m in info["revisions"][0].values()}
        self.assertEqual(types, {"simple", "cumulative", "ratio", "derived"})
        # the deployed manifests' malformed entries are non-null non-objects;
        # the probe manifest holds one metric and one JSON-null entry, which
        # Manifest documents as a malformed case
        self.assertNotIn(None, entries)
        self.assertTrue(any(not isinstance(e, dict) for e in entries))
        self.assertEqual(len(probe), 2)
        self.assertIn(None, probe)
        self.assertEqual(info["probe"], {"metrics": 1, "malformed": 1, "records": 3})


if __name__ == "__main__":
    unittest.main()
