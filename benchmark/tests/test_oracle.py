import copy
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.dont_write_bytecode = True

import gen  # noqa: E402
import oracle  # noqa: E402


class OracleCheckTest(unittest.TestCase):
    """The KPI check against a target that holds exactly the oracle's rows,
    then against copies with one planted fault each."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        base = Path(cls.tmp.name)
        inp = gen.pipeline_inputs("pipeline_backfill", 5, base / "in")
        cls.expected = oracle.expected_kpis(inp)
        cls.base = base

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def write(self, name, tables):
        out = self.base / name
        for table, rows in tables.items():
            oracle.write_partitioned(rows, out, table)
        return out

    def test_oracle_covers_the_hostile_rows(self):
        genre = self.expected["genre_kpis"]
        self.assertIn("Unkown", {r["track_genre"] for r in genre})
        dates = {r["date"] for r in self.expected["hourly_kpis"]}
        self.assertEqual(len(dates), gen.PIPELINE_SIZES["pipeline_backfill"]["days"])

    def test_exact_copy_passes(self):
        out = self.write("same", self.expected)
        self.assertEqual(oracle.check_kpis(self.expected, out), [])

    def test_untouched_stale_prefill_fails_on_every_row(self):
        # a backfill run that wrote nothing leaves the pre-fill in place
        out = self.write("stale", oracle.stale_kpis(self.expected))
        problems = oracle.check_kpis(self.expected, out)
        n_rows = sum(len(rows) for rows in self.expected.values())
        self.assertEqual(len(problems), n_rows)
        self.assertTrue(all("listen_count" in p or "unique_listeners" in p
                            for p in problems))

    def test_partly_overwritten_prefill_fails_on_the_skipped_dates(self):
        # a run that rewrote every date but one
        stale = oracle.stale_kpis(self.expected)
        skipped = self.expected["genre_kpis"][0]["date"]
        mixed = {t: [s if s["date"] == skipped else e
                     for e, s in zip(self.expected[t], stale[t])]
                 for t in stale}
        problems = oracle.check_kpis(self.expected, self.write("mixed", mixed))
        self.assertTrue(problems)
        self.assertTrue(all(skipped in p for p in problems))

    def test_planted_wrong_count_fails(self):
        bad = copy.deepcopy(self.expected)
        bad["genre_kpis"][3]["listen_count"] += 1
        problems = oracle.check_kpis(self.expected, self.write("count", bad))
        self.assertEqual(len(problems), 1)
        self.assertIn("listen_count", problems[0])

    def test_planted_wrong_top_artist_fails(self):
        bad = copy.deepcopy(self.expected)
        bad["hourly_kpis"][0]["top_artist"] = "someone else"
        problems = oracle.check_kpis(self.expected, self.write("artist", bad))
        self.assertEqual(len(problems), 1)
        self.assertIn("top_artist", problems[0])

    def test_duplicate_and_missing_rows_fail(self):
        bad = copy.deepcopy(self.expected)
        bad["genre_kpis"].append(dict(bad["genre_kpis"][0]))
        del bad["hourly_kpis"][-1]
        problems = oracle.check_kpis(self.expected, self.write("dup", bad))
        self.assertTrue(any("duplicate" in p for p in problems))
        self.assertTrue(any("missing" in p for p in problems))

    def test_doubles_compare_within_1e9_relative(self):
        near = copy.deepcopy(self.expected)
        far = copy.deepcopy(self.expected)
        v = near["genre_kpis"][0]["avg_duration_ms"]
        near["genre_kpis"][0]["avg_duration_ms"] = v * (1 + 1e-12)
        far["genre_kpis"][0]["avg_duration_ms"] = v * (1 + 1e-6)
        self.assertEqual(
            oracle.check_kpis(self.expected, self.write("near", near)), [])
        self.assertEqual(
            len(oracle.check_kpis(self.expected, self.write("far", far))), 1)


if __name__ == "__main__":
    unittest.main()
