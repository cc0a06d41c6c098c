"""Spark event log -> spans -> per-layer metrics.

A traced pipeline run launches `graft.PipelineMain` with Spark's own event
log on. This module reads that log (plain JSON lines, uncompressed) into
spans chained run -> SQL execution -> job -> stage, attributes each span to
a repo module by its call site, and sums the task metrics per layer.

Attribution:
* an SQL execution belongs to the first ``graft.*`` frame of its call-site
  stack (``graft.io.Sources$.csvRaw`` -> ``io.Sources``);
* an ``io.Sinks`` execution that writes ``<dir>/genre_kpis`` or
  ``<dir>/hourly_kpis`` is the SQL execution of ``etl.GenreKpis`` or
  ``etl.HourlyKpis``; its write stage (the stage whose tasks write output
  bytes) and the commit after it belong to ``io.Sinks``;
* jobs belong to their SQL execution via ``spark.sql.execution.id``.
"""

import json
import re
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = ("org.apache.spark.sql.execution.ui."
           "SparkListenerSQLAdaptiveExecutionUpdate")
DRIVER_ACCUM = ("org.apache.spark.sql.execution.ui."
                "SparkListenerDriverAccumUpdates")

TABLE_MODULES = {"genre_kpis": "etl.GenreKpis", "hourly_kpis": "etl.HourlyKpis"}
KPI_FIELDS = ("exec_s", "task_cpu_s", "shuffle_bytes", "spill_bytes", "tasks")

_FRAME = re.compile(r"\s*graft\.((?:[a-z]\w*\.)*[A-Z]\w*?)\$?\.")
_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")


def read_events(log_dir):
    """All events of every event-log file under ``log_dir`` in file order
    (Spark 4 writes a rolling ``eventlog_v2_*/events_N_*`` layout)."""
    files = sorted(p for p in Path(log_dir).rglob("*")
                   if p.is_file() and not p.name.startswith((".", "appstatus")))
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def module_of(details):
    """Repo module of the first ``graft.*`` frame in a call-site stack."""
    for line in (details or "").splitlines():
        m = _FRAME.match(line)
        if m:
            return m.group(1)
    return "spark"


def _plan_nodes(info):
    stack = [info]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(n.get("children", []))


class _Task:
    __slots__ = ("stage", "cpu_s", "run_s", "gc_s", "read", "written",
                 "shuffle", "spill", "failed")

    def __init__(self, e):
        m = e.get("Task Metrics") or {}
        self.stage = e["Stage ID"]
        self.cpu_s = m.get("Executor CPU Time", 0) / 1e9
        self.run_s = m.get("Executor Run Time", 0) / 1e3
        self.gc_s = m.get("JVM GC Time", 0) / 1e3
        self.read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        self.written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        self.shuffle = (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        self.spill = (m.get("Memory Bytes Spilled", 0) +
                      m.get("Disk Bytes Spilled", 0))
        self.failed = e["Task Info"].get("Failed", False)


def parse(log_dir, launch_ts=None, end_ts=None):
    """Spans and raw facts of one application's event log.

    ``launch_ts``/``end_ts`` (epoch seconds) bound the run span; they
    default to the application start/end events."""
    execs, jobs, stages, tasks = {}, {}, {}, []
    accum_values = {}
    app_start = app_end = None
    for e in read_events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerApplicationStart":
            app_start = e["Timestamp"] / 1e3
        elif ev == "SparkListenerApplicationEnd":
            app_end = e["Timestamp"] / 1e3
        elif ev == SQL_START:
            execs[e["executionId"]] = {
                "id": e["executionId"], "start": e["time"] / 1e3, "end": None,
                "module": module_of(e.get("details")),
                "plan": e.get("sparkPlanInfo") or {},
                "plan_bytes": len(e.get("physicalPlanDescription") or "")}
        elif ev == SQL_AQE:
            x = execs.get(e["executionId"])
            if x is not None:
                x["plan"] = e.get("sparkPlanInfo") or x["plan"]
        elif ev == SQL_END:
            x = execs.get(e["executionId"])
            if x is not None:
                x["end"] = e["time"] / 1e3
        elif ev == DRIVER_ACCUM:
            for acc_id, value in e.get("accumUpdates", []):
                accum_values[acc_id] = accum_values.get(acc_id, 0) + value
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1e3,
                "end": None,
                "exec": int(exec_id) if exec_id not in (None, "") else None}
            for s in e.get("Stage Infos", []):
                stages.setdefault(s["Stage ID"], {
                    "id": s["Stage ID"], "job": e["Job ID"],
                    "name": s.get("Stage Name"), "start": None, "end": None})
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.setdefault(si["Stage ID"], {
                "id": si["Stage ID"], "job": None, "name": si.get("Stage Name"),
                "start": None, "end": None})
            st["start"] = si.get("Submission Time", 0) / 1e3
            st["end"] = si.get("Completion Time", 0) / 1e3
        elif ev == "SparkListenerTaskEnd":
            tasks.append(_Task(e))
    for x in execs.values():
        for node in _plan_nodes(x["plan"]):
            w = _WRITE_PATH.search(node.get("simpleString", ""))
            if w:
                table = w.group(1).rstrip("/").rsplit("/", 1)[-1]
                x["table"] = table
                x["written_files"] = sum(
                    accum_values.get(m["accumulatorId"], 0)
                    for m in node.get("metrics", [])
                    if m["name"] == "number of written files")
    run_start = launch_ts if launch_ts is not None else app_start
    run_end = end_ts if end_ts is not None else app_end
    return {"run": (run_start, run_end), "execs": execs, "jobs": jobs,
            "stages": stages, "tasks": tasks}


def spans(log):
    """Flat span list: run -> SQL execution -> job -> stage."""
    out = [{"id": "run", "parent": None, "name": "run", "module": "PipelineMain",
            "start": log["run"][0], "end": log["run"][1]}]
    for x in log["execs"].values():
        name = x["module"] + (f" -> {x['table']}" if "table" in x else "")
        out.append({"id": f"sql{x['id']}", "parent": "run", "name": name,
                    "module": _exec_module(x), "start": x["start"],
                    "end": x["end"]})
    for j in log["jobs"].values():
        parent = f"sql{j['exec']}" if j["exec"] in log["execs"] else "run"
        out.append({"id": f"job{j['id']}", "parent": parent,
                    "name": f"job {j['id']}", "module": None,
                    "start": j["start"], "end": j["end"]})
    for s in log["stages"].values():
        out.append({"id": f"stage{s['id']}", "parent": f"job{s['job']}",
                    "name": s["name"], "module": None,
                    "start": s["start"], "end": s["end"]})
    return out


def _exec_module(x):
    return TABLE_MODULES.get(x.get("table"), x["module"])


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals
                       if a is not None and b is not None):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(log, input_bytes, stream_dir):
    """Per-layer metrics of one pipeline run (see README's layer table).

    ``input_bytes`` is the size on disk of every input file;
    ``stream_dir`` the directory of the stream batches."""
    execs, jobs, stages, tasks = (log["execs"], log["jobs"], log["stages"],
                                  log["tasks"])
    exec_of_stage = {sid: jobs[s["job"]]["exec"] if s["job"] in jobs else None
                     for sid, s in stages.items()}
    by_exec = {}
    for t in tasks:
        by_exec.setdefault(exec_of_stage.get(t.stage), []).append(t)

    m = {}
    run_start, run_end = log["run"]
    first_job = min((j["start"] for j in jobs.values()), default=run_end)
    m["PipelineMain.startup_s"] = first_job - run_start
    m["PipelineMain.driver_s"] = (run_end - run_start) - _covered(
        [(x["start"], x["end"]) for x in execs.values()], run_start, run_end)

    scan_tasks = [t for t in tasks if t.read > 0]
    scan_bytes = sum(t.read for t in tasks)
    m["io.Sources.extract_s"] = sum(
        x["end"] - x["start"] for x in execs.values()
        if x["module"] == "io.Sources" and x["end"] is not None)
    m["io.Sources.scan_bytes"] = scan_bytes
    # scans of the stream input in the plans that compute an output (the
    # header probes of the extract step read one block and are not counted)
    m["io.Sources.stream_scans"] = sum(
        1 for x in execs.values() if "table" in x
        for n in _plan_nodes(x["plan"])
        if n.get("nodeName", "").startswith("Scan")
        and stream_dir in (n.get("metadata") or {}).get("Location", ""))
    m["io.Sources.scan_amplification"] = scan_bytes / max(1, input_bytes)
    m["io.Sources.scan_task_cpu_s"] = sum(t.cpu_s for t in scan_tasks)

    for table, module in TABLE_MODULES.items():
        vals = dict.fromkeys(KPI_FIELDS, 0)
        for x in execs.values():
            if x.get("table") != table or x["end"] is None:
                continue
            ts = by_exec.get(x["id"], [])
            vals["exec_s"] += x["end"] - x["start"]
            vals["task_cpu_s"] += sum(t.cpu_s for t in ts)
            vals["shuffle_bytes"] += sum(t.shuffle for t in ts)
            vals["spill_bytes"] += sum(t.spill for t in ts)
            vals["tasks"] += len(ts)
        for k, v in vals.items():
            m[f"{module}.{k}"] = v

    write_stages = {t.stage for t in tasks if t.written > 0}
    write_tasks = [t for t in tasks if t.stage in write_stages]
    commit = 0.0
    for x in execs.values():
        ends = [jobs[s["job"]]["end"] for sid, s in stages.items()
                if sid in write_stages and exec_of_stage.get(sid) == x["id"]
                and s["job"] in jobs and jobs[s["job"]]["end"] is not None]
        if ends and x["end"] is not None:
            commit += x["end"] - max(ends)
    m["io.Sinks.write_s"] = sum(
        stages[s]["end"] - stages[s]["start"] for s in write_stages
        if stages.get(s, {}).get("end") is not None)
    m["io.Sinks.write_tasks"] = len(write_tasks)
    m["io.Sinks.write_wait_s"] = sum(max(0.0, t.run_s - t.cpu_s)
                                     for t in write_tasks)
    m["io.Sinks.commit_s"] = commit
    m["io.Sinks.files_written"] = sum(x.get("written_files", 0)
                                      for x in execs.values())
    m["io.Sinks.bytes_written"] = sum(t.written for t in tasks)

    m["spark.plan_bytes"] = sum(x["plan_bytes"] for x in execs.values())
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = len(tasks)
    m["spark.task_failures"] = sum(1 for t in tasks if t.failed)
    m["spark.task_cpu_s"] = sum(t.cpu_s for t in tasks)
    m["spark.gc_s"] = sum(t.gc_s for t in tasks)
    m["spark.shuffle_bytes"] = sum(t.shuffle for t in tasks)
    m["spark.spill_bytes"] = sum(t.spill for t in tasks)
    return m
