import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.dont_write_bytecode = True

import run  # noqa: E402


class SuiteListTest(unittest.TestCase):

    def test_every_family_has_a_query(self):
        pairs = run.suite_queries()
        names = [n for n, _ in pairs]
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual({f for _, f in pairs}, set(run.FAMILIES))

    def test_family_is_read_from_the_list(self):
        family = dict(run.suite_queries())
        self.assertEqual(family["p_lineage_cols"], "functions")
        self.assertEqual(family["j2_genre_kpis_join"], "etl")
        self.assertEqual(family["text_fingerprint"], "ext.TextAnalysis")


if __name__ == "__main__":
    unittest.main()
