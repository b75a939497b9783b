package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import graft.io.Io
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** `Io` as the one table catalog: parquet schemas are inferred once per
  * (path, file fingerprint, reader confs), `Io.views` frames are reused
  * per (session, dir), and any change to the files, the confs or the
  * dir is picked up on the next call.
  */
class IoCatalogSpec extends AnyFunSuite {
  import TestSpark._

  /** Spark jobs started by `body` on this thread. The body runs in a
    * fresh job group; a marker job run afterwards flushes the listener
    * bus (events arrive in order), so the count is complete. */
  private def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"io-catalog-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "IoCatalogSpec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "IoCatalogSpec listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener bus never delivered the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** A writable copy of the parquet tables of `dir`. */
  private def copyOf(dir: String): String = {
    val src = Paths.get(dir)
    val dst = Paths.get(TestSpark.tempDir("graft_iocat"))
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.copy(p, t); t.toFile.setWritable(true) }
    }
    dst.toString
  }

  private def leafFiles(p: Path): Seq[File] =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(_.toFile).toSeq

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def viewCount(t: String): Long =
    spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)

  private def fileCount(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t.parquet").count()

  test("a second Io.views on the same dir starts no Spark job") {
    val dir = copyOf(sf)
    assert(jobsStartedBy(Io.views(spark, dir)) > 0,
      "the first Io.views on a new dir infers the schemas")
    assert(jobsStartedBy(Io.views(spark, dir)) === 0)
    assert(jobsStartedBy(Io.allTables.foreach(Io.table(spark, dir, _))) === 0,
      "Io.table reuses the schemas Io.views inferred")
    Io.allTables.foreach(t => assert(viewCount(t) === fileCount(dir, t), t))
  }

  test("views re-point on every call: sf0.001 -> sf0.01 -> sf0.001") {
    val sf01 = new File(new File(sf).getParentFile, "sf0.01").getPath
    assume(new File(sf01).isDirectory, s"$sf01 not present")
    assert(fileCount(sf, "lineitem") !== fileCount(sf01, "lineitem"))
    for (d <- Seq(sf, sf01, sf)) {
      Io.views(spark, d)
      Io.allTables.foreach(t => assert(viewCount(t) === fileCount(d, t), s"$t after views($d)"))
      val scanned = spark.sql("SELECT input_file_name() FROM lineitem LIMIT 1").head().getString(0)
      assert(scanned.contains(new File(d).getName + "/lineitem.parquet"), scanned)
    }
    // a view replaced by another caller is registered again
    spark.range(3).createOrReplaceTempView("nation")
    Io.views(spark, sf)
    assert(viewCount("nation") === fileCount(sf, "nation"))
  }

  test("a rewritten table (new length or mtime) is picked up on the next call") {
    val dir = copyOf(sf)
    Io.views(spark, dir)
    assert(viewCount("nation") === 25)
    // new length: nation rewritten with 5 rows, as a directory of part files
    val nation = Paths.get(dir, "nation.parquet")
    val staged = s"$dir/nation_staged"
    spark.read.parquet(nation.toString).filter("n_nationkey < 5")
      .coalesce(1).write.parquet(staged)
    deleteTree(nation)
    Files.move(Paths.get(staged), nation)
    assert(Io.table(spark, dir, "nation").count() === 5)
    Io.views(spark, dir)
    assert(viewCount("nation") === 5)
    // new mtime only: same bytes, but the schema is inferred again
    val region = Paths.get(dir, "region.parquet")
    assert(jobsStartedBy(Io.table(spark, dir, "region")) === 0)
    leafFiles(region).foreach(f => assert(f.setLastModified(f.lastModified() + 60000L)))
    assert(jobsStartedBy(Io.table(spark, dir, "region")) > 0)
    assert(jobsStartedBy(Io.table(spark, dir, "region")) === 0)
    assert(jobsStartedBy(Io.views(spark, dir)) === 0,
      "the views rebuild from the re-inferred schema")
    assert(viewCount("region") === 5)
  }

  test("flipping nanosAsLong re-infers the schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = TestSpark.tempDir("graft_iocat_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/nanos.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1500000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.get(key)
    val tsType = () => Try(Io.table(spark, dir, "nanos").schema("ts").dataType)
    try {
      spark.conf.set(key, "true")
      assert(tsType() === Success(LongType))
      spark.conf.set(key, "false")
      assert(tsType() !== Success(LongType),
        "the LongType schema inferred under nanosAsLong=true was reused")
      spark.conf.set(key, "true")
      assert(tsType() === Success(LongType))
      assert(Io.table(spark, dir, "nanos").head().getLong(1) === 1500000000123456789L)
    } finally spark.conf.set(key, saved)
  }

  test("two Io.table frames have disjoint exprIds and self-join correctly") {
    Io.table(spark, sf, "nation")
    var a, b: DataFrame = null
    assert(jobsStartedBy {
      a = Io.table(spark, sf, "nation")
      b = Io.table(spark, sf, "nation")
    } === 0, "both reads hit the schema cache")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
    val joined = a.join(b, a("n_regionkey") === b("n_regionkey"))
      .select(a("n_nationkey"), b("n_nationkey")).collect().map(key).toSet
    val rows = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_regionkey").collect().map(key)
    val expected = for ((k1, r1) <- rows; (k2, r2) <- rows if r1 == r2) yield (k1, k2)
    assert(joined === expected.toSet)
    assert(joined.size < rows.length * rows.length, "self-join condition was trivially true")
  }
}
