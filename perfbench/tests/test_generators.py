"""Generator tests: the same seed gives byte-identical inputs, and the
manifest's bookkeeping is consistent with the files it describes.

Run: python3 -m unittest discover -s perfbench/tests
"""
import csv
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_bronze  # noqa: E402
import gen_tables  # noqa: E402


def files_under(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):

    def assert_identical(self, a, b):
        self.assertEqual(files_under(a), files_under(b))
        for f in files_under(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_bronze_same_seed_byte_identical(self):
        with tempfile.TemporaryDirectory() as t:
            gen_bronze.generate(os.path.join(t, "a"), 7, "tiny")
            gen_bronze.generate(os.path.join(t, "b"), 7, "tiny")
            gen_bronze.generate(os.path.join(t, "c"), 8, "tiny")
            self.assert_identical(os.path.join(t, "a"), os.path.join(t, "b"))
            self.assertFalse(filecmp.cmp(
                os.path.join(t, "a", "initial", "conductores_20250101.csv"),
                os.path.join(t, "c", "initial", "conductores_20250101.csv"),
                shallow=False))

    def test_tables_same_seed_byte_identical(self):
        with tempfile.TemporaryDirectory() as t:
            gen_tables.generate(os.path.join(t, "a"), 7, 0.001)
            gen_tables.generate(os.path.join(t, "b"), 7, 0.001)
            self.assert_identical(os.path.join(t, "a"), os.path.join(t, "b"))

    def test_manifest_matches_files(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen_bronze.generate(t, 3, "tiny")
            with open(os.path.join(t, "manifest.json")) as f:
                self.assertEqual(json.load(f), json.loads(json.dumps(m)))
            landed = [os.path.join("initial", n) for n in m["initial"]] + \
                [os.path.join("incremental", n) for n in m["incremental"]]
            self.assertEqual(len(m["after_incremental"]), len(m["incremental"]))
            for rel in landed:
                with open(os.path.join(t, rel), encoding="utf-8-sig") as f:
                    rows = list(csv.reader(f, delimiter=";"))
                want = m["files"][os.path.basename(rel)]
                self.assertEqual(len(rows) - 1, want["rows"], rel)
                self.assertEqual(want["accepted"] + want["rejected"], want["rows"])
            self.assertGreater(sum(f["rejected"] for f in m["files"].values()), 0)
            # children only grow along the sequence
            for a, b in zip(m["after_incremental"], m["after_incremental"][1:]):
                self.assertLessEqual(a["hoja_vida"] + a["revision_tecnica"],
                                     b["hoja_vida"] + b["revision_tecnica"])

    def test_rut_check_digit(self):
        # FIXTURES.md: 11.111.111-1 is valid, 22222222-9 is not
        self.assertEqual(gen_bronze.check_digit("11111111"), "1")
        self.assertNotEqual(gen_bronze.check_digit("22222222"), "9")


if __name__ == "__main__":
    unittest.main()
