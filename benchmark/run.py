"""Benchmark entry point.

    python3 benchmark/run.py --workload pipeline_daily --seed 1 --seconds 30 --trace 0

Builds the program from source (benchmark/build.py), generates the
workload's inputs from the seed, runs the workload, checks every output, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones, and the run's spans are
written to ``.bench_build/traces/``. See benchmark/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # the checkout stays as it was

import build  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORK = build.BUILD / "work"
TRACES = build.BUILD / "traces"
WORKLOADS = ("pipeline_daily", "pipeline_backfill", "query_suite")
SETUP_REPS = 3
JVM_TIMEOUT_S = 150
# A run's JVM makes one cold launch (pipelines) or pass (suite) and then
# warm ones: round(seconds / RUN_S) in all, at least MIN_RUNS. RUN_S is one
# launch or pass, cold and warm averaged, on a 4-core host.
RUN_S = 10
MIN_RUNS = 3
# A traced pipeline run: the cold launch traced, then four warm ones traced,
# untraced, untraced, traced, so the tracing overhead is not confounded with
# the warm launches getting faster.
TRACED_RUNS = (0, 1, 4)
TRACE_RUNS = 5
SUITE_QUERIES = HERE / "suite_queries.txt"

E2E_UNITS = {"setup_s": "s", "job_s": "s", "success_rate": "ratio",
             "peak_rss_mb": "MB"}
FAMILIES = ("relational", "analytics", "etl", "functions", "ext.Dedup",
            "ext.Similarity", "ext.TextAnalysis", "ext.Multimodal", "streaming")
LAYER_UNITS = {
    "PipelineMain.cold_s": "s", "PipelineMain.startup_s": "s",
    "PipelineMain.driver_s": "s", "PipelineMain.trace_overhead_s": "s",
    "HarnessSession.cold_s": "s", "HarnessSession.startup_s": "s",
    "io.Sources.extract_s": "s", "io.Sources.scan_bytes": "bytes",
    "io.Sources.stream_scans": "count", "io.Sources.scan_amplification": "ratio",
    "io.Sources.scan_task_cpu_s": "s",
    **{f"{m}.{k}": u for m in ("etl.GenreKpis", "etl.HourlyKpis")
       for k, u in (("exec_s", "s"), ("task_cpu_s", "s"),
                    ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                    ("tasks", "count"))},
    "io.Sinks.write_s": "s", "io.Sinks.write_tasks": "count",
    "io.Sinks.write_wait_s": "s", "io.Sinks.commit_s": "s",
    "io.Sinks.files_written": "count", "io.Sinks.bytes_written": "bytes",
    "queries.p50_s": "s", "queries.construct_s": "s",
    "queries.execute_s": "s", "queries.failed": "count",
    **{f"queries.family.{f}_s": "s" for f in FAMILIES},
    "spark.analysis_s": "s", "spark.optimization_s": "s",
    "spark.planning_s": "s", "spark.codegen_units": "count",
    "spark.codegen_compile_s": "s", "spark.plan_bytes": "bytes",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def suite_queries():
    """(name, family) pairs of suite_queries.txt, in file order."""
    pairs = []
    for line in SUITE_QUERIES.read_text().splitlines():
        fields = line.split("#", 1)[0].split()
        if fields:
            name, fam = fields
            if fam not in FAMILIES:
                raise SystemExit(f"{SUITE_QUERIES.name}: {name}: "
                                 f"unknown family {fam}")
            pairs.append((name, fam))
    return pairs


# --- JVM launching -----------------------------------------------------------

def _nproc():
    return len(os.sched_getaffinity(0))


def _jvm_env(tmp):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_CONF", "_JAVA_OPTIONS",
                                "JAVA_TOOL_OPTIONS"))}
    env["SPARK_GRAFT_CPUS"] = str(_nproc())
    env["SPARK_GRAFT_LOCAL_DIR"] = str(tmp)
    return env


class Launch:
    """One child JVM: wall time from launch to exit, exit status, peak RSS."""

    def __init__(self, cmd, cwd, env, log_path):
        self.start = time.time()
        t0 = time.perf_counter()
        with open(log_path, "w") as err:
            p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=err,
                                 stderr=subprocess.STDOUT)
            deadline = time.monotonic() + JVM_TIMEOUT_S
            pid = 0
            try:
                # wait4, not Popen.wait: its rusage is this child's alone
                while not pid:
                    if time.monotonic() > deadline:
                        log(f"killing after {JVM_TIMEOUT_S}s: {cmd[-1]}")
                        p.kill()
                        pid, status, usage = os.wait4(p.pid, 0)
                    else:
                        time.sleep(0.02)
                        pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            finally:
                if not pid:  # interrupted: never leave the JVM behind
                    p.kill()
                    os.wait4(p.pid, 0)
        self.wall_s = time.perf_counter() - t0
        self.end = self.start + self.wall_s
        self.code = os.waitstatus_to_exitcode(status)
        self.rss_mb = usage.ru_maxrss / 1024.0  # Linux reports KiB
        if self.code != 0:
            tail = Path(log_path).read_text(errors="replace").splitlines()[-15:]
            log(f"exit {self.code}; last log lines:\n" + "\n".join(tail))


def _java(classpath, tmp, heap, extra):
    # a fixed heap (-Xms = -Xmx) keeps peak RSS to what the job touches
    # rather than when the collector chose to grow the heap
    return (["java", *build.ADD_OPENS, "-XX:-UsePerfData", f"-Xms{heap}",
             f"-Xmx{heap}",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + extra +
            ["-cp", classpath])


def launch_pipeline(classpath, work, inp, out_prefix, runs, traced=()):
    """`graft.PipelineMain` ``runs`` times in one fresh JVM (PipelineLoop),
    configured like the Airflow SparkSubmitOperator in deploy/:
    local[nproc], UTC, adaptive on. Runs in ``traced`` write Spark's event
    log to ``<work>/eventlog<i>``."""
    tmp = work / "tmp"
    extra = [f"-Dspark.master=local[{_nproc()}]", f"-Dspark.local.dir={tmp}",
             "-Dspark.sql.adaptive.enabled=true",
             "-Dspark.eventLog.compress=false"]
    loop_json = work / "loop.json"
    cmd = _java(classpath, tmp, "2g", ["-XX:+UseParallelGC"] + extra) + [
        "org.apache.spark.graftbench.PipelineLoop", str(runs),
        ",".join(map(str, traced)) or "-", str(work / "eventlog"),
        str(out_prefix), str(loop_json), str(inp / "streams" / "*.csv"),
        str(inp / "users.csv"), str(inp / "songs.csv")]
    r = Launch(cmd, work, _jvm_env(tmp), work / "pipeline.log")
    res = json.loads(loop_json.read_text()) if (
        r.code == 0 and loop_json.exists()) else None
    return r, res


def launch_suite(classpath, work, tables, names, passes, trace):
    tmp = work / "tmp"
    list_file = work / "queries.txt"
    list_file.write_text("\n".join(names) + "\n")
    out_json = work / "suite.json"
    cmd = _java(classpath, tmp, "3g", ["-XX:+UseParallelGC"]) + [
        "org.apache.spark.graftbench.SuiteRunner", str(tables),
        str(list_file), str(passes), str(out_json), "1" if trace else "0"]
    r = Launch(cmd, work, _jvm_env(tmp), work / "suite.log")
    res = json.loads(out_json.read_text()) if (
        r.code == 0 and out_json.exists()) else None
    return r, res


# --- set-up ------------------------------------------------------------------

def _dir_bytes(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def _setup_once(workload, seed, base, runs):
    if workload == "query_suite":
        return {"tables": gen.suite_tables(seed, base / "tables")}
    inp = gen.pipeline_inputs(workload, seed, base / "in")
    expected = oracle.expected_kpis(inp)
    if workload == "pipeline_backfill":
        # every launch gets its own copy of a stale target, so only a real
        # overwrite of every partition yields the expected tables
        stale = base / "stale"
        for table, rows in oracle.stale_kpis(expected).items():
            oracle.write_partitioned(rows, stale, table)
        for i in range(runs):
            shutil.copytree(stale, base / f"out{i}")
    return {"in": inp, "out_prefix": base / "out", "expected": expected}


def setup(workload, seed, work, runs):
    """Generate the inputs (and, for the pipelines, the oracle tables; for
    the backfill, one pre-filled target per launch) SETUP_REPS times,
    keeping the last; set-up time is the median."""
    times = []
    for rep in range(SETUP_REPS):
        base = work / "setup"
        if base.exists():
            shutil.rmtree(base)
        t0 = time.perf_counter()
        state = _setup_once(workload, seed, base, runs)
        os.sync()  # no write-back of fresh inputs during the timed runs
        times.append(time.perf_counter() - t0)
    return statistics.median(times), state


# --- workloads ---------------------------------------------------------------

def run_pipeline(workload, classpath, work, state, runs, trace):
    """One PipelineLoop JVM; every launch's output is checked afterwards.
    Returns (launch, per-run records or None, failed launches)."""
    traced = TRACED_RUNS if trace else ()
    r, res = launch_pipeline(classpath, work, state["in"],
                             state["out_prefix"], runs, traced)
    if res is None:
        log(f"{workload}: PipelineLoop exited {r.code}")
        return r, None, runs
    failed = 0
    for i in range(runs):
        problems = oracle.check_kpis(state["expected"],
                                     f"{state['out_prefix']}{i}")
        if problems:
            failed += 1
            log(f"{workload} launch {i}: {len(problems)} problem(s): "
                f"{problems[:5]}")
    return r, res["runs"], failed


def pipeline_layers(work, inp, r, runs):
    """Per-layer metrics of a traced pipeline run: cold time and start-up
    from the cold launch, everything else the median over the traced warm
    launches."""
    stream_dir, input_bytes = str(inp / "streams"), _dir_bytes(inp)
    logs = {i: eventlog.parse(work / f"eventlog{i}",
                              r.start if i == 0 else runs[i]["start_ms"] / 1e3,
                              runs[i]["end_ms"] / 1e3)
            for i in TRACED_RUNS}
    warm = [eventlog.layer_metrics(logs[i], input_bytes, stream_dir)
            for i in TRACED_RUNS if i > 0]
    m = {k: statistics.median(w[k] for w in warm) for k in warm[0]}
    cold = eventlog.layer_metrics(logs[0], input_bytes, stream_dir)
    m["PipelineMain.cold_s"] = runs[0]["end_ms"] / 1e3 - r.start
    m["PipelineMain.startup_s"] = cold["PipelineMain.startup_s"]
    on = [runs[i]["wall_s"] for i in TRACED_RUNS if i > 0]
    off = [x["wall_s"] for i, x in enumerate(runs)
           if i > 0 and i not in TRACED_RUNS]
    m["PipelineMain.trace_overhead_s"] = (statistics.median(on) -
                                          statistics.median(off))
    spans = [dict(s, id=f"launch{i}.{s['id']}",
                  parent=s["parent"] and f"launch{i}.{s['parent']}")
             for i, lg in logs.items() for s in eventlog.spans(lg)]
    return m, spans


def run_suite(classpath, work, state, passes, trace):
    """One SuiteRunner JVM; every query of every pass is checked against
    its oracle's row count. Returns (launch, result or None, failed)."""
    queries = suite_queries()
    names = [n for n, _ in queries]
    r, res = launch_suite(classpath, work, state["tables"], names, passes,
                          trace)
    if res is None:
        log(f"query_suite: SuiteRunner exited {r.code}")
        return r, None, passes * len(names)
    counts = oracle.count_rows(state["tables"], res["oracle_sql"])
    failed = 0
    for p, records in enumerate(res["passes"]):
        for q in records:
            want = counts.get(q["name"], "no oracle SQL")
            if not q["ok"]:
                q["problem"] = q.get("error", "failed")
            elif q.get("rows") != want:
                q["problem"] = f"rows {q.get('rows')} != oracle {want}"
            if "problem" in q:
                failed += 1
                log(f"query_suite pass {p}: {q['name']}: {q['problem']}")
    return r, res, failed


def pass_walls(res):
    ends = [t / 1e3 for t in res["pass_end_ms"]]
    return [b - a for a, b in zip([res["pass_start_ms"] / 1e3] + ends, ends)]


def suite_layers(r, res):
    """Per-layer metrics of a traced suite run: the cold pass's end, the
    median query time of the warm passes, the rest summed over every pass."""
    family = dict(suite_queries())
    qs = [q for records in res["passes"] for q in records]
    m = {"HarnessSession.cold_s": res["pass_end_ms"][0] / 1e3 - r.start,
         "HarnessSession.startup_s": res["pass_start_ms"] / 1e3 - r.start,
         "queries.p50_s": statistics.median(
             q["construct_s"] + q["execute_s"]
             for records in res["passes"][1:] for q in records),
         "queries.construct_s": sum(q["construct_s"] for q in qs),
         "queries.execute_s": sum(q["execute_s"] for q in qs),
         "queries.failed": sum(1 for q in qs if "problem" in q)}
    for f in FAMILIES:
        m[f"queries.family.{f}_s"] = sum(
            q["construct_s"] + q["execute_s"] for q in qs
            if family.get(q["name"]) == f)
    sp = res["spark"]
    m["spark.analysis_s"] = sp["analysis_s"] + sum(
        q.get("analysis_ms", 0) for q in qs) / 1e3
    for k in ("optimization_s", "planning_s", "plan_bytes", "jobs", "tasks",
              "task_failures", "task_cpu_s", "gc_s", "shuffle_bytes",
              "spill_bytes"):
        m[f"spark.{k}"] = sp[k]
    m["spark.codegen_units"] = sum(q.get("codegen_units", 0) for q in qs)
    m["spark.codegen_compile_s"] = sum(q.get("codegen_compile_s", 0) for q in qs)
    return m


def suite_spans(r, res):
    family = dict(suite_queries())
    out = [{"id": "run", "parent": None, "name": "run",
            "module": "HarnessSession", "start": r.start, "end": r.end}]
    t = res["pass_start_ms"] / 1e3
    for p, records in enumerate(res["passes"]):
        for i, q in enumerate(records):
            for kind in ("construct", "execute"):
                d = q[f"{kind}_s"]
                out.append({"id": f"p{p}.q{i}.{kind}", "parent": "run",
                            "name": f"{q['name']} {kind}",
                            "module": f"queries.{family.get(q['name'])}",
                            "start": t, "end": t + d})
                t += d
    return out


# --- main ----------------------------------------------------------------------

def measure(workload, classpath, work, state, runs, trace):
    """Run the workload's JVM and check its outputs. Returns (attempted,
    failed, metrics) with the end-to-end metrics, or the per-layer ones
    when tracing; None when the JVM failed."""
    if workload == "query_suite":
        r, res, failed = run_suite(classpath, work, state, runs, trace)
        if res is None:
            return None
        attempted = runs * len(suite_queries())
        walls = pass_walls(res)
        if trace:
            return attempted, failed, suite_layers(r, res), suite_spans(r, res)
    else:
        r, res, failed = run_pipeline(workload, classpath, work, state, runs,
                                      trace)
        if res is None:
            return None
        attempted = runs
        walls = [x["wall_s"] for x in res]
        if trace:
            return (attempted, failed,
                    *pipeline_layers(work, state["in"], r, res))
    return attempted, failed, {
        "job_s": statistics.median(walls[1:]),
        "success_rate": 1.0 - failed / attempted,
        "peak_rss_mb": r.rss_mb,
    }, None


def main(argv=None):
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classpath = build.build()
    runs = (TRACE_RUNS if args.trace and args.workload != "query_suite"
            else max(MIN_RUNS, round(args.seconds / RUN_S)))
    work = WORK / f"{args.workload}-{args.seed}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    try:
        setup_s, state = setup(args.workload, args.seed, work, runs)
        log(f"{args.workload} seed {args.seed}: set-up {setup_s:.2f}s, "
            f"{runs} launches or passes")
        result = measure(args.workload, classpath, work, state, runs,
                         args.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        raise SystemExit(f"{args.workload}: the JVM failed; no result")
    attempted, failed, metrics, trace_spans = result
    if args.trace:
        metrics = {k: metrics.get(k, 0) for k in LAYER_UNITS}
        units = LAYER_UNITS
        TRACES.mkdir(parents=True, exist_ok=True)
        path = TRACES / f"{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps({"spans": trace_spans, "layers": metrics},
                                   indent=1))
        log(f"spans written to {path}")
    else:
        metrics = {"setup_s": setup_s, **metrics}
        units = E2E_UNITS
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
