// Query-suite driver for the benchmark's query_suite workload.
//
// One fresh JVM, one HarnessSession, then a given number of passes over the
// query names listed in a file (in the order given). The first pass is the cold one; the later ones reuse the JVM's
// loaded classes, JIT and generated-code cache. Each query is built by
// SparkEntry.queries(name)(spark, dir), materialized through the noop sink
// and cleaned up the way graft.Bench does it. The per-query construct and
// execute times are always recorded; with tracing on, Spark's planning
// tracker, codegen counters and task metrics are recorded too, summed over
// every pass. Everything stays in memory and is written as one JSON file at
// the end.
//
// It lives under org.apache.spark so it can drain the listener bus before
// reading the listener totals.
package org.apache.spark.graftbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

object SuiteRunner {

  /** Row counts arrive through `Dataset.observe`, so the output check needs
    * no second execution; planner phases and plan sizes ride the same
    * listener when tracing. */
  private final class QeListener(trace: Boolean) extends QueryExecutionListener {
    val rows = new ConcurrentHashMap[String, java.lang.Long]()
    val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
    val planBytes = new AtomicLong()

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      qe.observedMetrics.foreach { case (name, row: Row) =>
        if (name.startsWith("bench_rows_")) rows.put(name, row.getLong(0))
      }
      if (trace) {
        qe.tracker.phases.foreach { case (phase, s) =>
          phaseMs.computeIfAbsent(phase, _ => new AtomicLong())
            .addAndGet(s.durationMs)
        }
        planBytes.addAndGet(qe.executedPlan.toString.length.toLong)
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private final class TaskTotals extends SparkListener {
    val jobs, tasks, failures, shuffleBytes, spillBytes = new AtomicLong()
    val cpuS, gcS = new DoubleAdder()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (!e.taskInfo.successful) failures.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuS.add(m.executorCpuTime / 1e9)
        gcS.add(m.jvmGCTime / 1e3)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Build, materialize and clean up one query; its record. */
  private def runQuery(spark: SparkSession,
                       fn: Option[(SparkSession, String) => org.apache.spark.sql.DataFrame],
                       name: String, dir: String, observe: String,
                       trace: Boolean): JMap[String, Any] = {
    val rec = new JMap[String, Any]()
    rec.put("name", name)
    rec.put("observe", observe)
    val units0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compile0 = CodeGenerator.compileTime
    val a = System.nanoTime()
    var b = a
    try {
      val df = fn.getOrElse(sys.error(s"no query named $name"))(spark, dir)
      b = System.nanoTime()
      if (trace) rec.put("analysis_ms",
        df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs).getOrElse(0L))
      df.observe(observe, count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      rec.put("ok", true)
    } catch {
      case NonFatal(e) =>
        if (b == a) b = System.nanoTime()
        rec.put("ok", false)
        rec.put("error", String.valueOf(e.getMessage).take(500))
    } finally {
      graft.ext.Dedup.releaseScratch()
      if (name.startsWith("streaming_"))
        graft.streaming.StreamHygiene.release(spark)
    }
    val c = System.nanoTime()
    rec.put("construct_s", (b - a) / 1e9)
    rec.put("execute_s", (c - b) / 1e9)
    if (trace) {
      rec.put("codegen_units",
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - units0)
      rec.put("codegen_compile_s", (CodeGenerator.compileTime - compile0) / 1e9)
    }
    rec
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 5, "usage: SuiteRunner <tableDir> " +
      "<queryListFile> <passes> <outJson> <trace 0|1>")
    val Array(dir, listFile, passArg, outJson, traceArg) = args
    val trace = traceArg == "1"
    val passes = passArg.toInt
    val names = scala.io.Source.fromFile(listFile).getLines()
      .map(_.trim).filter(_.nonEmpty).toVector

    val t0 = System.nanoTime()
    val spark: SparkSession = graft.HarnessSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qeListener = new QeListener(trace)
    classic.listenerManager.register(qeListener)
    val taskTotals = new TaskTotals
    if (trace) spark.sparkContext.addSparkListener(taskTotals)

    val queries = graft.SparkEntry.queries
    val passRecords = new JList[JList[JMap[String, Any]]]()
    val passEndMs = new JList[Long]()
    val passStartMs = System.currentTimeMillis()
    for (pass <- 0 until passes) {
      val records = new JList[JMap[String, Any]]()
      names.zipWithIndex.foreach { case (name, i) =>
        records.add(runQuery(spark, queries.get(name), name, dir,
          s"bench_rows_${pass}_$i", trace))
      }
      passRecords.add(records)
      passEndMs.add(System.currentTimeMillis())
    }

    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
    passRecords.forEach { records =>
      records.forEach { rec =>
        Option(qeListener.rows.get(rec.get("observe")))
          .foreach(r => rec.put("rows", r))
        rec.remove("observe")
      }
    }
    val out = new JMap[String, Any]()
    out.put("session_s", sessionS)
    out.put("pass_start_ms", passStartMs)
    out.put("pass_end_ms", passEndMs)
    out.put("passes", passRecords)
    if (trace) {
      val t = new JMap[String, Any]()
      Seq("analysis", "optimization", "planning").foreach { p =>
        t.put(p + "_s", Option(qeListener.phaseMs.get(p)).map(_.get).getOrElse(0L) / 1e3)
      }
      t.put("plan_bytes", qeListener.planBytes.get)
      t.put("jobs", taskTotals.jobs.get)
      t.put("tasks", taskTotals.tasks.get)
      t.put("task_failures", taskTotals.failures.get)
      t.put("task_cpu_s", taskTotals.cpuS.sum)
      t.put("gc_s", taskTotals.gcS.sum)
      t.put("shuffle_bytes", taskTotals.shuffleBytes.get)
      t.put("spill_bytes", taskTotals.spillBytes.get)
      out.put("spark", t)
    }
    // oracle texts are read after the passes: some render literals their
    // query stashed while running
    val oracle = new JMap[String, Any]()
    val sql = graft.SparkEntry.oracleSql
    names.foreach(n => sql.get(n).foreach(s => oracle.put(n, s)))
    out.put("oracle_sql", oracle)
    new ObjectMapper().writeValue(new java.io.File(outJson), out)
    spark.stop()
  }
}
