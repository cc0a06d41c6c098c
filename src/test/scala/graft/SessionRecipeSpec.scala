package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** HarnessSession's precedence: its defaults fill only keys the launcher
  * left unset, and the local-only ones apply only to a `local*` master.
  * Pure over (SparkConf, env) — no session is built. */
class SessionRecipeSpec extends AnyFunSuite {

  private def conf(kv: (String, String)*): SparkConf =
    new SparkConf(false).setAll(kv)

  private val localOnly = Set("spark.master", "spark.sql.shuffle.partitions",
    "spark.local.dir", "spark.ui.enabled", "spark.file.transferTo",
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.executor.extraClassPath", "spark.executor.extraJavaOptions",
    "spark.executor.memory")

  private def ext4Dir: String = {
    val dir = Files.createTempDirectory(Paths.get("target"), "recipe")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  test("a key the launcher set is never overridden") {
    val set = Seq("spark.sql.shuffle.partitions" -> "8192",
      "spark.local.dir" -> "/dev/shm/launcher-dir",
      "spark.sql.adaptive.enabled" -> "false")
    for (master <- Seq("yarn", "local[2]")) {
      val d = HarnessSession.defaults(
        conf(("spark.master" -> master) +: set: _*), Map.empty, "4")
      assert(d.keySet.intersect(
        Set("spark.master") ++ set.map(_._1)).isEmpty, s"$master: $d")
    }
  }

  test("a non-local master gets none of the local-only entries") {
    val d = HarnessSession.defaults(conf("spark.master" -> "yarn"),
      Map("SPARK_GRAFT_CPUS" -> "3",
        "SPARK_GRAFT_MASTER" -> "local-cluster[2,4,4096]"), "4")
    assert(d.keySet.intersect(localOnly).isEmpty, d)
    assert(d("spark.sql.session.timeZone") == "UTC")
    assert(d("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  test("with no master set, the master becomes local[SPARK_GRAFT_CPUS]") {
    val dir = ext4Dir
    val d = HarnessSession.defaults(conf(),
      Map("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_LOCAL_DIR" -> dir), "4")
    assert(d("spark.master") == "local[3]")
    assert(d("spark.sql.shuffle.partitions") == "3")
    assert(d("spark.local.dir") == dir)
    assert(d("spark.sql.streaming.checkpointFileManagerClass") ==
      "org.apache.spark.sql.GraftCheckpointFileManager")
    assert(!d.contains("spark.executor.extraClassPath"))
    val fallback = HarnessSession.defaults(conf(),
      Map("SPARK_GRAFT_LOCAL_DIR" -> dir), "4")
    assert(fallback("spark.master") == "local[4]")
    val forked = HarnessSession.defaults(conf(),
      Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,4,4096]"), "4")
    assert(forked("spark.master") == "local-cluster[2,4,4096]")
    assert(forked("spark.executor.extraClassPath")
      .endsWith("target/scala-2.13/classes"))
  }

  test("the tmpfs check is true for /dev/shm and false on ext4") {
    assert(HarnessSession.isTmpfs("/dev/shm"))
    // a dir Spark has yet to create is judged by its parent
    assert(HarnessSession.isTmpfs("/dev/shm/not-yet-created/local"))
    assert(!HarnessSession.isTmpfs(ext4Dir))
  }

  test("transferTo follows the dir Spark uses: SPARK_LOCAL_DIRS first") {
    def transferTo(c: SparkConf, env: Map[String, String]) =
      HarnessSession.defaults(c, env, "4").get("spark.file.transferTo")
    val shm = "/dev/shm/graft-recipe-spec"
    val ext4 = ext4Dir
    assert(transferTo(conf("spark.local.dir" -> shm), Map.empty)
      .contains("false"))
    assert(transferTo(conf("spark.local.dir" -> ext4), Map.empty).isEmpty)
    assert(transferTo(conf("spark.local.dir" -> shm),
      Map("SPARK_LOCAL_DIRS" -> ext4)).isEmpty)
    assert(transferTo(conf("spark.local.dir" -> ext4),
      Map("SPARK_LOCAL_DIRS" -> shm)).contains("false"))
    // a launcher-set value wins either way
    assert(transferTo(conf("spark.local.dir" -> shm,
      "spark.file.transferTo" -> "true"), Map.empty).isEmpty)
  }
}
