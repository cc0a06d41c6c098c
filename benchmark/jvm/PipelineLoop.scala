// Repeated-launch driver for the benchmark's pipeline workloads.
//
// Calls graft.PipelineMain.main (session recipe, run, stop) a given number
// of times in one JVM, run i writing to <outPrefix><i>. The first run is the
// cold one a spark-submit launch sees; the later ones reuse the loaded
// classes and JIT but build a fresh SparkSession each. Runs named in
// <tracedRuns> (comma-separated indices, or "-") write Spark's event log to
// <eventPrefix><i>; the others run with it off. Start and end of every run
// (epoch ms) are written as one JSON file at the end. A run that fails exits
// the JVM with PipelineMain's own exit code.
package org.apache.spark.graftbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.ObjectMapper

object PipelineLoop {

  def main(args: Array[String]): Unit = {
    require(args.length == 8, "usage: PipelineLoop <runs> <tracedRuns> " +
      "<eventPrefix> <outPrefix> <outJson> <streamsGlob> <usersCsv> <songsCsv>")
    val Array(runArg, tracedArg, eventPrefix, outPrefix, outJson, streams,
      users, songs) = args
    val traced = tracedArg.split(",").filter(_ != "-").map(_.toInt).toSet
    val runs = new JList[JMap[String, Any]]()
    for (i <- 0 until runArg.toInt) {
      if (traced(i)) {
        val dir = new java.io.File(s"$eventPrefix$i")
        dir.mkdirs()
        System.setProperty("spark.eventLog.dir", dir.toURI.toString)
      }
      System.setProperty("spark.eventLog.enabled", traced(i).toString)
      val rec = new JMap[String, Any]()
      rec.put("start_ms", System.currentTimeMillis())
      val a = System.nanoTime()
      graft.PipelineMain.main(Array(streams, users, songs, s"$outPrefix$i"))
      rec.put("wall_s", (System.nanoTime() - a) / 1e9)
      rec.put("end_ms", System.currentTimeMillis())
      rec.put("traced", traced(i))
      runs.add(rec)
    }
    val out = new JMap[String, Any]()
    out.put("runs", runs)
    new ObjectMapper().writeValue(new java.io.File(outJson), out)
  }
}
