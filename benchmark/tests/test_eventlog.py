import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.dont_write_bytecode = True

import eventlog  # noqa: E402

# A recorded `graft.PipelineMain` run over 2,000 stream rows in 2 batches
# spanning 3 days, reduced to the events and fields the parser reads.
LOG = Path(__file__).resolve().parent / "data"


class EventLogTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.log = eventlog.parse(LOG)
        cls.metrics = eventlog.layer_metrics(cls.log, 100_000,
                                             "/data/run/in/streams")

    def test_sql_execution_spans(self):
        execs = self.log["execs"]
        self.assertEqual(sorted(execs), list(range(8)))
        self.assertEqual([execs[i]["module"] for i in range(6)],
                         ["io.Sources"] * 6)
        self.assertEqual(execs[6]["module"], "io.Sinks")
        self.assertEqual(execs[6]["table"], "genre_kpis")
        self.assertEqual(execs[7]["table"], "hourly_kpis")
        self.assertEqual((execs[6]["start"], execs[6]["end"]),
                         (1792231081.788, 1792231086.706))
        self.assertEqual((execs[7]["start"], execs[7]["end"]),
                         (1792231086.73, 1792231088.961))

    def test_job_spans_belong_to_their_execution(self):
        jobs = self.log["jobs"]
        self.assertEqual(len(jobs), 20)
        self.assertEqual((jobs[0]["start"], jobs[0]["end"], jobs[0]["exec"]),
                         (1792231079.296, 1792231079.92, 0))
        self.assertEqual([j["exec"] for j in jobs.values()],
                         [0, 2, 4] + [6] * 9 + [7] * 8)

    def test_span_chain(self):
        spans = {s["id"]: s for s in eventlog.spans(self.log)}
        self.assertEqual(spans["run"]["parent"], None)
        self.assertEqual(spans["sql6"]["module"], "etl.GenreKpis")
        self.assertEqual(spans["sql7"]["module"], "etl.HourlyKpis")
        self.assertEqual(spans["job0"]["parent"], "sql0")
        for s in spans.values():
            if s["parent"] is not None:
                self.assertIn(s["parent"], spans, s["id"])
            if s["id"].startswith("stage"):
                self.assertTrue(spans[s["parent"]]["id"].startswith("job"))

    def test_layer_metrics(self):
        m = self.metrics
        self.assertEqual(m["io.Sources.stream_scans"], 5)
        self.assertEqual(m["io.Sinks.files_written"], 6)
        self.assertEqual(m["io.Sinks.write_tasks"], 2)
        self.assertEqual(m["spark.jobs"], 20)
        self.assertEqual(m["spark.tasks"], 25)
        self.assertEqual(m["spark.task_failures"], 0)
        self.assertAlmostEqual(m["etl.GenreKpis.exec_s"], 4.918, places=3)
        self.assertAlmostEqual(m["PipelineMain.startup_s"],
                               1792231079.296 - 1792231072.475, places=3)
        self.assertAlmostEqual(m["io.Sources.scan_amplification"],
                               m["io.Sources.scan_bytes"] / 100_000)
        self.assertEqual(m["etl.GenreKpis.tasks"] + m["etl.HourlyKpis.tasks"]
                         + 3, m["spark.tasks"])

    def test_module_of_call_site(self):
        self.assertEqual(eventlog.module_of(
            "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)\n"
            "graft.io.Sinks$.parquet(Sinks.scala:35)\n"
            "graft.Pipeline$.run(Pipeline.scala:74)"), "io.Sinks")
        self.assertEqual(eventlog.module_of("graft.Pipeline$.run(x:1)"),
                         "Pipeline")
        self.assertEqual(eventlog.module_of("org.apache.spark.Foo.bar(x:1)"),
                         "spark")


if __name__ == "__main__":
    unittest.main()
