package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (SURVEY.md §5.2) — suites may
  * run in the same JVM, and a second SparkContext would be an error.
  */
object GraftTestSpark {
  lazy val spark: SparkSession = GraftSession.create(4, Seq(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" -> tempPath("graft_wh").toString))

  val sfDir = "/root/testdata/sf0.001"

  /** Ids of the RDDs the session holds persisted now: a test diffs two
    * readings to see what a call left behind. */
  def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Temp dir under one per-JVM root that a single shutdown hook removes.
    * Suites use this instead of calling Files.createTempDirectory
    * directly, so a test run leaves nothing behind in /tmp (a full suite
    * previously leaked ~45 graft_* dirs per run — the HllSketchSpec
    * cleanup fix, generalized). Same contract as the direct call: returns
    * a fresh, empty, writable Path.
    */
  def tempPath(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tmpRoot, prefix)

  private lazy val tmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_tests_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root.toFile)))
    root
  }

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
