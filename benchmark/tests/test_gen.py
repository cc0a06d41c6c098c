import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.dont_write_bytecode = True

import duckdb  # noqa: E402

import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = Path(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def test_pipeline_inputs_are_byte_identical_for_a_seed(self):
        a = gen.pipeline_inputs("pipeline_backfill", 7, self.dir / "a")
        b = gen.pipeline_inputs("pipeline_backfill", 7, self.dir / "b")
        c = gen.pipeline_inputs("pipeline_backfill", 8, self.dir / "c")
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_suite_tables_are_byte_identical_for_a_seed(self):
        a = gen.suite_tables(7, self.dir / "a")
        b = gen.suite_tables(7, self.dir / "b")
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(
            sorted(p.stem for p in a.glob("*.parquet")),
            sorted(["region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents",
                    "embeddings"]))

    def test_pipeline_inputs_carry_the_hostile_fractions(self):
        inp = gen.pipeline_inputs("pipeline_backfill", 3, self.dir / "in")
        streams = sorted((inp / "streams").glob("*.csv"))
        self.assertEqual(len(streams), 8)
        con = duckdb.connect()
        glob = (inp / "streams" / "*.csv").as_posix()
        rows, bad_time, unknown = con.execute(f"""
            SELECT count(*),
                   count(*) FILTER (WHERE TRY_CAST(listen_time AS TIMESTAMP)
                                    IS NULL),
                   count(*) FILTER (WHERE track_id NOT IN
                       (SELECT track_id FROM '{(inp / "songs.csv").as_posix()}'))
            FROM read_csv('{glob}', header = true, all_varchar = true)
        """).fetchone()
        songs = (inp / "songs.csv").as_posix()
        null_genre, null_pop = con.execute(f"""
            SELECT count(*) FILTER (WHERE track_genre IS NULL),
                   count(*) FILTER (WHERE popularity IS NULL)
            FROM read_csv('{songs}', header = true, all_varchar = true)
        """).fetchone()
        size = gen.PIPELINE_SIZES["pipeline_backfill"]
        self.assertEqual(rows, size["rows"])
        self.assertGreater(bad_time, 0)
        self.assertGreater(unknown, 0.005 * rows)
        self.assertGreater(null_genre, 0)
        self.assertGreater(null_pop, 0)


if __name__ == "__main__":
    unittest.main()
