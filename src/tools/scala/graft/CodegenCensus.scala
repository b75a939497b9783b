package graft

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.expressions.codegen.CodeAndComment

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
  * With `--dump DIR`, every body a row added is written to
  * `DIR/<row>/<nn>_<loader>.java` (`loader` is the classloader's class
  * name: the planning JVM's `AppClassLoader` or the executors'
  * `ExecutorClassLoader`), and `DIR/bodies.tsv` lists per body its row,
  * loaders, source bytes and Janino compile time — the median of
  * [[CompileReps]] compiles taken after the JIT has compiled the whole
  * body set once, so two runs show which classes a change removed and
  * what each cost. The bodies a row adds on a later execution go to
  * `DIR/<row>/pass<p>_<nn>_<loader>.java`, and `DIR/warm.tsv` classes
  * each: `seen` when an earlier execution compiled the same body (in
  * another loader), `renamed` when it is an earlier body under another
  * `GeneratedIteratorForCodegenStage<id>` (the id is the stage's place
  * in the AQE stage order), else `new`.
  *
  * Usage: `graft.CodegenCensus <data dir> <work dir> [--sink parquet|noop]
  *   [--passes N] [--dump DIR] row...` — one JSON line per row, then a
  *   `total` line.
  */
object CodegenCensus {
  // a def: touching CodeGenerator builds its cache, which must wait for
  // the session's maxEntries conf
  private def gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  /** Compiles per body whose median `--dump` reports. */
  private val CompileReps = 5

  /** Each loader identity's class name, as the cache last showed it. */
  private val loaderNames = scala.collection.mutable.Map.empty[Int, String]

  private def cacheCode(): Map[(Int, String), CodeAndComment] = {
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    // NonFateSharingCache is private[spark]; its public `cache` is Guava's
    val nf = m.invoke(gen)
    val cache = nf.getClass.getMethod("cache").invoke(nf)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[AnyRef, AnyRef]]
    val keys = cache.asMap().keySet().toArray.toSeq
    keys.map { case (loader: AnyRef, code: AnyRef) =>
      val l = loader.getClass.getMethod("get").invoke(loader)
      val id = System.identityHashCode(l)
      if (l != null) loaderNames(id) = l.getClass.getSimpleName
      val c = code.asInstanceOf[CodeAndComment]
      (id, c.body) -> c
    }.toMap
  }

  /** Janino compile time of one body, bypassing the cache. */
  private def compileMs(c: CodeAndComment): Double = {
    val m = gen.getClass.getDeclaredMethod("doCompile", classOf[CodeAndComment])
    m.setAccessible(true)
    val t0 = System.nanoTime()
    m.invoke(gen, c)
    (System.nanoTime() - t0) / 1e6
  }

  /** A body with its whole-stage ids blanked: equal for one stage's
    * code under two places in the stage order. */
  private def stageFree(body: String): String =
    body.replaceAll("(CodegenStage|codegenStageId=)[0-9]+", "$1")

  /** Writes every row's new bodies and `bodies.tsv` under `dir`, and
    * the later executions' bodies with `warm.tsv`. */
  private def dump(dir: String, names: Seq[String],
      entries: collection.Map[String, Set[(Int, String)]],
      warm: Seq[(String, Int, Set[(Int, String)], Set[String])],
      codes: collection.Map[String, CodeAndComment]): Unit = {
    val byRow = names.map { q =>
      q -> entries(q).groupBy(_._2).toSeq
        .map { case (body, ks) => (body, ks.map(k => loaderNames.getOrElse(k._1, "?"))) }
        .sortBy(-_._1.length)
    }
    // one untimed compile of the whole set, so the timed ones run JIT-warm
    byRow.flatMap(_._2).foreach(b => compileMs(codes(b._1)))
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val tsv = new java.io.PrintWriter(s"$dir/bodies.tsv", "UTF-8")
    tsv.println("row\tfile\tloaders\tbytes\tcompile_ms")
    try byRow.foreach { case (q, bodies) =>
      new java.io.File(s"$dir/$q").mkdirs()
      bodies.zipWithIndex.foreach { case ((body, loaders), i) =>
        val file = f"$q/$i%02d_${loaders.toSeq.sorted.mkString("+")}.java"
        val w = new java.io.PrintWriter(s"$dir/$file", "UTF-8")
        try w.write(body) finally w.close()
        val ms = median(Seq.fill(CompileReps)(compileMs(codes(body))))
        tsv.println(s"$q\t$file\t${loaders.size}\t${body.length}\t" +
          String.format(Locale.ROOT, "%.1f", Double.box(ms)))
      }
    } finally tsv.close()
    val wtsv = new java.io.PrintWriter(s"$dir/warm.tsv", "UTF-8")
    wtsv.println("row\tpass\tfile\tloaders\tbytes\tkind")
    try warm.foreach { case (q, p, added, before) =>
      val earlier = before.map(stageFree)
      added.groupBy(_._2).toSeq.sortBy(-_._1.length).zipWithIndex.foreach {
        case ((body, ks), i) =>
          val loaders = ks.map(k => loaderNames.getOrElse(k._1, "?")).toSeq.sorted
          val file = f"$q/pass$p%d_$i%02d_${loaders.mkString("+")}.java"
          new java.io.File(s"$dir/$q").mkdirs()
          val w = new java.io.PrintWriter(s"$dir/$file", "UTF-8")
          try w.write(body) finally w.close()
          val kind = if (before.contains(body)) "seen"
            else if (earlier.contains(stageFree(body))) "renamed" else "new"
          wtsv.println(s"$q\t$p\t$file\t${loaders.size}\t${body.length}\t$kind")
      }
    } finally wtsv.close()
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
    var dumpDir: Option[String] = None
    val rows = Seq.newBuilder[String]
    var i = 2
    while (i < argv.length) {
      argv(i) match {
        case "--sink" => sink = argv(i + 1); i += 1
        case "--passes" => passes = argv(i + 1).toInt; i += 1
        case "--dump" => dumpDir = Some(argv(i + 1)); i += 1
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
    // every body seen, kept past its cache entry for `--dump`
    val code = scala.collection.mutable.Map.empty[String, CodeAndComment]
    def cacheKeys(): Set[(Int, String)] = {
      val now = cacheCode()
      now.foreach { case ((_, body), c) => code(body) = c }
      now.keySet
    }
    var seen = cacheKeys()
    // (row, pass, entries added on that later execution, bodies seen before it)
    val warm = Seq.newBuilder[(String, Int, Set[(Int, String)], Set[String])]
    var out = 0
    for (p <- 1 to passes; q <- names) {
      val before = if (entries.contains(q)) code.keySet.toSet else Set.empty[String]
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
      else if ((now -- seen).nonEmpty) warm += ((q, p, now -- seen, before))
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
    dumpDir.foreach { d =>
      new java.io.File(d).mkdirs()
      dump(d, names, entries, warm.result(), code)
    }
    spark.stop()
  }
}
