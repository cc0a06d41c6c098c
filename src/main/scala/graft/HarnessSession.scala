package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The only session recipe. `PipelineMain`, `Verify`, `Bench` and its
  * probes, and the specs' `SparkSpec` all build their session here, so the
  * engine settings measured for the bench are the ones every verified and
  * deployed run gets.
  *
  * The recipe is one table of defaults ([[defaults]]) applied only to keys
  * the launcher left unset: a `-D` system property or a spark-submit
  * `--conf` always wins. The local-only entries (master, scratch dir,
  * shuffle partitions = cpus, ...) apply only when the master is `local*`,
  * so a cluster launch (`--master yarn`, its own partition count) keeps
  * Spark's defaults for them. After the build, [[GraftExtensions.install]]
  * registers graft's SQL functions and optimizer rule.
  *
  * Environment (the only three knobs): SPARK_GRAFT_CPUS (local core and
  * shuffle-partition count, else `defaultCpus`), SPARK_GRAFT_MASTER (master
  * when none is set, e.g. `local-cluster[n,cores,mem]` to fork real
  * executor JVMs, putting process-boundary serialization and shuffle wires
  * under the timed path), SPARK_GRAFT_LOCAL_DIR (default scratch dir). */
object HarnessSession {

  /** `defaultCpus` is the fallback when SPARK_GRAFT_CPUS is unset — the
    * arbiters default small (4), the growth harness to the full box (32,
    * matching its committed tables). */
  def build(defaultCpus: String = "4"): SparkSession = {
    val conf = new SparkConf() // loads the launcher's spark.* properties
    conf.setAll(defaults(conf, sys.env, defaultCpus))
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }

  /** The entries the recipe adds to `conf`: its defaults minus every key
    * `conf` already sets. */
  def defaults(conf: SparkConf, env: Map[String, String],
               defaultCpus: String): Map[String, String] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val master = conf.getOption("spark.master")
      .getOrElse(env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    val common = Seq(
      "spark.app.name" -> "graft-music-streaming-etl",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      // Larger shuffle write buffers (32k → 128k): fewer write syscalls
      // per produced shuffle file; +A/B on top of transferTo=false:
      // streaming_admission 1.74→1.48 s, f_dsir 1.23→1.13 s, rest flat.
      // Bounded: 128k × shuffle partitions × concurrent tasks ≈ 128 MB
      // transient worst-case at the 32-way local recipe.
      "spark.shuffle.file.buffer" -> "128k",
      "spark.shuffle.unsafe.file.output.buffer" -> "128k",
      // Codegen class cache sized for a MULTI-QUERY session (r16): the
      // default 100-entry LRU is sized for one query's worth of codegen
      // units; a 221-query suite generates ~1,300 distinct units per
      // pass, so the "warm" pass thrashed the cache and re-ran Janino on
      // 1,119 of them (70-query mini-suite, warm pass 1,119 compiles /
      // 50.4 s at 100 entries vs 35 compiles / 32.9 s at a large cache).
      // 5000 holds two full passes with slack (~1,300 classes ≈ tens of
      // MB of metaspace).
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // Canonical codegen class names: with the stage id embedded,
      // structurally IDENTICAL stages from different queries hash to
      // different generated source and miss the cache. 70-query
      // mini-suite: pass-1 compiles 1,074→1,010 (wall 68.3→64.5 s),
      // warm-pass compiles 42→19 (31.7→27.7 s). Cost: generated frames
      // all read "GeneratedClass" instead of carrying the stage id.
      "spark.sql.codegen.useIdInClassName" -> "false",
      // Session-artifact isolation OFF (r17): Spark 4 keys the codegen
      // cache on (context classloader, source), and with isolation on
      // EVERY streaming query start clones the session into a fresh
      // JobArtifactState whose tasks run under a new classloader — each
      // of the ~12 streaming runs per bench pass re-Janino'd its full
      // plan (12 compiles per repeat run → 0 with isolation off). The
      // isolation fences per-session third-party artifacts (Spark
      // Connect multi-tenancy); this engine adds none.
      "spark.sql.artifact.isolation.enabled" -> "false")
    val local =
      if (!master.startsWith("local")) Nil
      else {
        val localDir = conf.get("spark.local.dir", defaultLocalDir(env))
        // the directories Spark actually writes shuffle files to:
        // SPARK_LOCAL_DIRS overrides spark.local.dir when set
        val usedDirs = env.get("SPARK_LOCAL_DIRS")
          .map(_.split(",").toSeq).getOrElse(Seq(localDir))
        Seq(
          "spark.master" -> master,
          "spark.sql.shuffle.partitions" -> cpus,
          "spark.local.dir" -> localDir,
          "spark.ui.enabled" -> "false",
          // Fork-free local checkpoint I/O (r17): with no native Hadoop
          // lib, every checkpoint mkdir/create shells out a `chmod` (60
          // forks per AvailableNow run) and writes a `.crc` twin per
          // file. GraftCheckpointFileManager keeps the atomic-rename
          // commit contract over java.nio; local paths only (it rejects
          // non-file schemes loudly).
          "spark.sql.streaming.checkpointFileManagerClass" ->
            "org.apache.spark.sql.GraftCheckpointFileManager") ++
        // Shuffle-file copy path on tmpfs (r17): the bypass-merge writer
        // concatenates per-partition files via FileChannel.transferTo,
        // which mmaps the source in chunks and unmaps per chunk —
        // map0/unmap0 topped executor stack samples (546+382 of ~1,200
        // busy samples). On tmpfs the data is already in RAM, so a plain
        // buffered copy wins: f_dsir_weights 1.92→1.23 s,
        // text_surprisal_gate 1.26→0.86 s, dedup_setsim_pairs
        // 1.12→0.95 s (isolated A/B). Real disks keep Spark's default
        // (transferTo wins on NVMe, where sendfile avoids a copy).
        (if (usedDirs.forall(isTmpfs)) Seq("spark.file.transferTo" -> "false")
         else Nil) ++
        (if (!master.startsWith("local-cluster")) Nil
         else Seq(
          // forked executors get SPARK_HOME/jars but not this build's
          // classes dir (CNFE otherwise), and the JVM default timezone
          // does not propagate (only SQL confs do). ParallelGC, as the
          // bench pins for its own JVM (SCALE.md bench methodology r10:
          // batch suite, no pause SLO — the throughput collector wins ~7%
          // warm over G1).
          "spark.executor.extraClassPath" ->
            new java.io.File("target/scala-2.13/classes").getAbsolutePath,
          "spark.executor.extraJavaOptions" ->
            "-Duser.timezone=UTC -XX:+UseParallelGC",
          "spark.executor.memory" -> "3g"))
      }
    (common ++ local).filterNot { case (k, _) => conf.contains(k) }.toMap
  }

  /** Default scratch dir. Spark's default is java.io.tmpdir, a block
    * device on the bench box; stack-sampling the bench (r16) showed ~30%
    * of shuffle-stage task wall inside shuffle-file syscalls —
    * f_dsir_weights 3.9→2.7 s and text_surprisal_gate 2.65→1.8 s isolated
    * just by moving spark.local.dir to tmpfs. This is the standard "point
    * local dirs at the fastest local storage" tuning; in a RAM-rich
    * sandbox the tmpfs IS that storage. SPARK_GRAFT_LOCAL_DIR wins;
    * /dev/shm only when present and writable. */
  private def defaultLocalDir(env: Map[String, String]): String =
    env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark-local"
      else System.getProperty("java.io.tmpdir", "/tmp")
    }

  /** Whether `dir` lives on tmpfs, judged by the filesystem of its nearest
    * existing ancestor (Spark creates the dir itself later). */
  def isTmpfs(dir: String): Boolean = {
    var p = Paths.get(dir).toAbsolutePath
    while (p != null && !Files.exists(p)) p = p.getParent
    p != null && Files.getFileStore(p).`type`() == "tmpfs"
  }
}
