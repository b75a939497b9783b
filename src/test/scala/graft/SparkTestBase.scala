package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole suite (Spark startup dominates test
  * wall-clock otherwise). Mirrors the Verify/Bench session config.
  */
object TestSpark {
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh directory for one spec, under a root this JVM owns and
    * deletes when it exits (`Q.processDir`), so a test run leaves no
    * directory behind in `java.io.tmpdir`. */
  def tempDir(prefix: String): String = java.nio.file.Files.createTempDirectory(
    java.nio.file.Paths.get(graft.ops.Q.processDir("graft-test")), prefix).toString

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2] = 4 threads, maxFailures 2: a failed task gets ONE
      // retry, which is what lets SourceSpec drive a real scheduler-
      // level task retry through the DSv2 commit protocol (a plain
      // local[4] fails the job on the first task failure). Tests that
      // assert a poisoned job FAILS still hold — their fault is
      // deterministic, so the retry fails identically.
      .master("local[4, 2]")
      .appName("upflowspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", tempDir("graft_wh"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
