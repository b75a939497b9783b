package graft

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Codegen census of a list of query rows, run in one session the way
  * the `etl_batch_write` benchmark runs them: each pass constructs every
  * row in order and writes its full result (parquet sink, then an
  * untimed read-back digest and delete; or Spark's `noop` sink). Per
  * row it reports
  *
  *  - `entries`: the entries the row added to `CodeGenerator`'s class
  *    cache on its first execution, counted as (classloader, code body)
  *    pairs — the cache's own key — and `bodies`, the distinct code
  *    bodies among them (the planning JVM's compile check and the executors'
  *    session classloader each hold a whole-stage class);
  *  - `compiles`: codegen compiles on each execution (a row whose
  *    second or third execution compiles emits code that varies per
  *    execution);
  *  - `ms`: wall time of each execution, construct through sink.
  *
  * The cache is sized past any workload here
  * (`spark.sql.codegen.cache.maxEntries`, a static conf, set before the
  * first compile), so no entry is evicted between the snapshots; the
  * default 100-entry cache is 4 LRU segments of 25.
  *
  * Usage: `graft.CodegenCensus <data dir> <work dir> [--sink parquet|noop]
  *   [--passes N] row...` — one JSON line per row, then a `total` line.
  */
object CodegenCensus {
  private def cacheKeys(): Set[(Int, String)] = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    // NonFateSharingCache is private[spark]; its public `cache` is Guava's
    val nf = m.invoke(gen)
    val cache = nf.getClass.getMethod("cache").invoke(nf)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[AnyRef, AnyRef]]
    val keys = cache.asMap().keySet().toArray.toSeq
    keys.map { case (loader: AnyRef, code: AnyRef) =>
      val l = loader.getClass.getMethod("get").invoke(loader)
      (System.identityHashCode(l),
        code.asInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodeAndComment].body)
    }.toSet
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The benchmark's read-back: rows and an XXH64 digest of every row. */
  private def digest(df: DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single(h)
    }.collect().sum
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val (data, work) = (argv(0), argv(1))
    var sink = "parquet"
    var passes = 3
    val rows = Seq.newBuilder[String]
    var i = 2
    while (i < argv.length) {
      argv(i) match {
        case "--sink" => sink = argv(i + 1); i += 1
        case "--passes" => passes = argv(i + 1).toInt; i += 1
        case q => rows += q
      }
      i += 1
    }
    val names = rows.result()
    val fns = SparkEntry.queries
    names.foreach(q => require(fns.contains(q), s"unknown query $q"))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.artifactDir", s"$work/artifacts")
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val entries = scala.collection.mutable.Map.empty[String, Set[(Int, String)]]
    val comp = scala.collection.mutable.Map.empty[String, Seq[Long]].withDefaultValue(Nil)
    val wall = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    var seen = cacheKeys()
    var out = 0
    for (_ <- 1 to passes; q <- names) {
      val c0 = compiles()
      val t0 = System.nanoTime()
      val df = fns(q)(spark, data)
      val dir = s"$work/out/$out"
      out += 1
      if (sink == "noop") df.write.format("noop").mode("overwrite").save()
      else df.write.parquet(dir)
      val ms = (System.nanoTime() - t0) / 1e6
      comp(q) = comp(q) :+ (compiles() - c0)
      wall(q) = wall(q) :+ ms
      if (sink != "noop") {
        digest(spark.read.parquet(dir))
        deleteTree(new java.io.File(dir))
      }
      val now = cacheKeys()
      if (!entries.contains(q)) entries(q) = now -- seen
      seen = now
    }
    def arr[A](xs: Seq[A]) = xs.map {
      case d: Double => String.format(Locale.ROOT, "%.1f", Double.box(d))
      case x => x.toString
    }.mkString("[", ",", "]")
    names.foreach { q =>
      println(s"""{"row":"$q","entries":${entries(q).size},""" +
        s""""bodies":${entries(q).map(_._2).size},"compiles":${arr(comp(q))},""" +
        s""""ms":${arr(wall(q))}}""")
    }
    val all = names.flatMap(entries).toSet
    println(s"""{"row":"total","entries":${all.size},"bodies":${all.map(_._2).size},""" +
      s""""compiles_per_pass":${arr((0 until passes).map(p =>
        names.map(q => comp(q)(p)).sum))}}""")
    spark.stop()
  }
}
