package perfbench

import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Closed-loop, full-result benchmark driver for one workload.
  *
  * One client submits one query at a time. Each query is timed from the
  * call that constructs its DataFrame until its full result reaches the
  * sink. Nothing here changes the program: it only calls the public
  * entry points (`SparkEntry.queries`, `Io.views`, `Q.releaseSession`)
  * and reads Spark's own plans, trackers and listener events.
  *
  * A run starts one Spark session and makes `--warmup` untimed passes
  * over the workload. Set-up is timed from JVM start to the end of those
  * passes, so it holds JVM and SparkContext start, class loading, codegen
  * and JIT warm-up. Timed repetitions then run until `--seconds` have
  * passed. Raw measurements go to `--out` as JSON; the caller turns them
  * into metrics and checks the digests. With `--trace 1` repetitions
  * alternate between traced (listener attached, spans kept in memory)
  * and untraced, so the same run yields the tracing overhead.
  */
object PerfBench {
  final case class Args(data: String, queries: Seq[String], sink: String,
      releaseEachRep: Boolean, seconds: Double, trace: Boolean,
      warmup: Int, work: String, out: String, dump: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("data"), get("queries").split(',').toSeq, get("sink"),
      get("release-each-rep") == "1", get("seconds").toDouble,
      get("trace") == "1", get("warmup").toInt, get("work"), get("out"),
      m.get("dump").contains("1"))
  }

  // ---- JSON, always formatted with Locale.ROOT -------------------------
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(x))
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def ms(ns: Long): Double = ns / 1e6

  // ---- spans -----------------------------------------------------------
  /** Wall-clock ms since the epoch for a `System.nanoTime` reading, so
    * the benchmark's spans and Spark's job/stage times share one axis. */
  val nanoBase: Long = System.nanoTime()
  val epochBase: Double = System.currentTimeMillis().toDouble
  def epochMs(nano: Long): Double = epochBase + (nano - nanoBase) / 1e6

  final case class Span(id: String, parent: String, kind: String, name: String,
      start: Double, end: Double)
  val spans = new ConcurrentLinkedQueue[Span]()
  def addSpan(id: String, parent: String, kind: String, name: String, t0: Long, t1: Long): Unit =
    spans.add(Span(id, parent, kind, name, epochMs(t0), epochMs(t1)))

  /** Spark jobs and stages, each tagged with the job group the driver
    * sets around each phase (`<query span>|construct`, `|plan`,
    * `|action`). */
  final class Tap extends SparkListener {
    final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
    final class Stage(val id: Int, val attempt: Int) {
      var start = 0L; var end = 0L; var tasks = 0L; var retried = 0L
      var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
      var shufReadB = 0L; var shufWriteB = 0L; var fetchWaitMs = 0L
      var spillB = 0L; var inB = 0L; var inRows = 0L
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Stage]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(j.jobId, Job(j.jobId, g, j.time, 0L, j.stageIds))
      j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.end = j.time)
    private def st(id: Int, att: Int) =
      stages.computeIfAbsent((id, att), _ => new Stage(id, att))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val x = st(i.stageId, i.attemptNumber())
      x.synchronized {
        x.start = i.submissionTime.getOrElse(0L); x.end = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val x = st(t.stageId, t.stageAttemptId)
      val m = t.taskMetrics
      x.synchronized {
        x.tasks += 1
        if (t.taskInfo.attemptNumber > 0) x.retried += 1
        if (m != null) {
          x.runMs += m.executorRunTime; x.cpuNs += m.executorCpuTime; x.gcMs += m.jvmGCTime
          x.shufReadB += m.shuffleReadMetrics.totalBytesRead
          x.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          x.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          x.spillB += m.diskBytesSpilled
          x.inB += m.inputMetrics.bytesRead; x.inRows += m.inputMetrics.recordsRead
        }
      }
    }
    /** Listener events arrive asynchronously: wait (bounded) until every
      * job seen has ended and the counters stop moving. */
    def settle(): Unit = {
      def state = (jobs.size, jobs.values.asScala.count(_.end == 0L),
        stages.values.asScala.map(_.tasks).sum)
      var prev = state; var n = 0
      var done = false
      while (!done && n < 40) {
        Thread.sleep(50); val cur = state
        done = cur == prev && cur._2 == 0
        prev = cur; n += 1
      }
    }
    def json(): String = {
      val js = jobs.asScala.toSeq.sortBy(_._1).map { case (_, j) => obj(
        "id" -> j.id.toString, "group" -> str(j.group),
        "start" -> num(j.start.toDouble), "end" -> num(j.end.toDouble),
        "stages" -> arr(j.stages.map(_.toString))) }
      val ss = stages.asScala.toSeq.sortBy(_._1).map { case (_, s) =>
        s.synchronized(obj(
          "id" -> str(s"${s.id}.${s.attempt}"),
          "job" -> Option(stageJob.get(s.id)).map(_.toString).getOrElse("null"),
          "start" -> num(s.start.toDouble), "end" -> num(s.end.toDouble),
          "tasks" -> s.tasks.toString, "retried_tasks" -> s.retried.toString,
          "run_ms" -> s.runMs.toString, "cpu_ns" -> s.cpuNs.toString, "gc_ms" -> s.gcMs.toString,
          "shuffle_read_b" -> s.shufReadB.toString, "shuffle_write_b" -> s.shufWriteB.toString,
          "fetch_wait_ms" -> s.fetchWaitMs.toString, "spill_b" -> s.spillB.toString,
          "input_b" -> s.inB.toString, "input_rows" -> s.inRows.toString))
      }
      obj("jobs" -> arr(js), "stages" -> arr(ss))
    }
  }

  // ---- sinks -----------------------------------------------------------
  /** Order-insensitive digest of a full result: row count and the
    * wrapping sum of a 64-bit hash of each row's UnsafeRow bytes. Every
    * row of the result is computed and hashed on the executors; only
    * one (count, sum) pair per partition reaches the driver. */
  def digest(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, String.format(Locale.ROOT, "%016x", Long.box(parts.map(_._2).sum)))
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  final case class SinkOut(rows: Long, digest: String, bytes: Long, files: Int)

  // ---- plan census (final AQE plan) -----------------------------------
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val fns = graft.SparkEntry.queries
    a.queries.foreach(q => require(fns.contains(q), s"unknown query $q"))
    new java.io.File(a.work).mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.graft.artifactDir", s"${a.work}/artifacts")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var outSeq = 0
    def sink(df: DataFrame): SinkOut = a.sink match {
      case "digest" =>
        val (n, d) = digest(df); SinkOut(n, d, 0L, 0)
      case "parquet" =>
        outSeq += 1
        val dir = new java.io.File(s"${a.work}/out/$outSeq")
        df.write.parquet(dir.getPath)
        val parts = Option(dir.listFiles).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("part-"))
        SinkOut(-1L, "", parts.map(_.length).sum, parts.length)
      case other => sys.error(s"unknown sink $other")
    }
    /** Untimed: digest what a parquet sink wrote, then delete it. */
    def afterSink(o: SinkOut): SinkOut =
      if (a.sink != "parquet") o
      else {
        val dir = new java.io.File(s"${a.work}/out/$outSeq")
        val (n, d) = digest(spark.read.parquet(dir.getPath))
        deleteTree(dir)
        o.copy(rows = n, digest = d)
      }

    val sc = spark.sparkContext
    val tap = new Tap
    var repNo = 0
    var qNo = 0
    var checkNs = 0L // untimed output checks inside a repetition

    def runQuery(name: String, parent: String, traced: Boolean,
        dumpTo: Option[String] = None): String = {
      qNo += 1
      val qSpan = s"q-$qNo"
      val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val cgN0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var err = ""
      var out = SinkOut(0L, "", 0L, 0)
      var phases = Map.empty[String, Double]
      var census = Map.empty[String, Int]
      val t0 = System.nanoTime()
      var t1 = t0; var t2 = t0; var t3 = t0
      try {
        sc.setJobGroup(s"$qSpan|construct", name)
        val df = fns(name)(spark, a.data)
        t1 = System.nanoTime()
        if (traced) {
          sc.setJobGroup(s"$qSpan|plan", name)
          df.queryExecution.executedPlan
        }
        t2 = System.nanoTime()
        sc.setJobGroup(s"$qSpan|action", name)
        out = dumpTo match {
          case Some(d) => df.write.parquet(d); SinkOut(-1L, "", 0L, 0)
          case None => sink(df)
        }
        t3 = System.nanoTime()
        if (traced) {
          phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          val nodes = planNodes(df.queryExecution.executedPlan)
          census = Map(
            "exchanges" -> nodes.count(n => n.isInstanceOf[Exchange] || n.isInstanceOf[ReusedExchangeExec]),
            "scan_nodes" -> nodes.count(_.nodeName.contains("Scan")),
            "joins" -> nodes.count(_.isInstanceOf[BaseJoinExec]),
            "broadcast_joins" -> nodes.count(_.nodeName.startsWith("Broadcast")),
            "shuffle_joins" -> nodes.count(n => n.isInstanceOf[BaseJoinExec] &&
              !n.nodeName.startsWith("Broadcast")))
        }
      } catch {
        case e: Throwable =>
          t3 = System.nanoTime()
          err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      } finally sc.clearJobGroup()
      val cgMs = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e6
      val cgN = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
      val c0 = System.nanoTime()
      if (err.isEmpty && dumpTo.isEmpty) out = try afterSink(out) catch {
        case e: Throwable => err = s"check: ${e.getClass.getSimpleName}"; out
      }
      checkNs += System.nanoTime() - c0
      if (traced) {
        addSpan(qSpan, parent, "query", name, t0, t3)
        if (t1 > t0) addSpan(s"$qSpan|construct", qSpan, "construct", name, t0, t1)
        if (t2 > t1) addSpan(s"$qSpan|plan", qSpan, "plan", name, t1, t2)
        if (t3 > t2) addSpan(s"$qSpan|action", qSpan, "action", name, t2, t3)
      }
      obj("name" -> str(name), "span" -> str(qSpan), "t_s" -> num((t3 - t0) / 1e9),
        "construct_ms" -> num(ms(t1 - t0)), "plan_ms" -> num(ms(t2 - t1)),
        "action_ms" -> num(ms(t3 - t2)), "error" -> str(err),
        "dumped" -> dumpTo.isDefined.toString,
        "rows" -> out.rows.toString, "digest" -> str(out.digest),
        "sink_bytes" -> out.bytes.toString, "sink_files" -> out.files.toString,
        "codegen_compiles" -> cgN.toString, "codegen_ms" -> num(cgMs),
        "phases_ms" -> obj(phases.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*),
        "plan_census" -> obj(census.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*))
    }

    /** Live heap after full GCs. Spark's ContextCleaner frees
      * unreferenced blocks asynchronously after a GC finds them, so take
      * the least of a few readings. Also run before the first timed
      * repetition, so that every repetition starts after the same GCs. */
    def liveHeapMb(): Double = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(50)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    def storage(): (Double, Int) = {
      val info = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      ((info.map(_.memSize).sum + info.map(_.diskSize).sum) / 1048576.0, info.length)
    }

    // Warm-up passes: part of set-up, outputs checked like timed ones. With
    // --dump 1 the first pass writes each result in the layout
    // tools/parity.py reads instead, for the caller's DuckDB check.
    val dumpDir = s"${a.work}/dump"
    val warm = (1 to a.warmup).flatMap { pass =>
      if (a.releaseEachRep) graft.ops.Q.releaseSession(spark)
      a.queries.map(q => runQuery(q, "workload", traced = false,
        if (a.dump && pass == 1) Some(s"$dumpDir/$q") else None))
    }
    if (a.dump) {
      val oracles = graft.SparkEntry.oracleSql
      val oj = obj(a.queries.filter(oracles.contains).map(q => q -> str(oracles(q))): _*)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dumpDir/oracle_sql.json"),
        oj.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    liveHeapMb()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // Timed repetitions; a traced run needs at least two traced and two
    // untraced ones.
    val reps = scala.collection.mutable.ArrayBuffer[String]()
    val minReps = if (a.trace) 4 else 1
    val t0Reps = System.nanoTime()
    var i = 0
    while (i < minReps || (System.nanoTime() - t0Reps) / 1e9 < a.seconds) {
      val traced = a.trace && i % 2 == 0
      if (a.releaseEachRep) graft.ops.Q.releaseSession(spark)
      if (traced) sc.addSparkListener(tap)
      repNo += 1
      val repSpan = s"rep-$repNo"
      var viewsMs = Double.NaN
      if (traced) {
        val v0 = System.nanoTime()
        graft.io.Io.views(spark, a.data)
        val v1 = System.nanoTime()
        viewsMs = ms(v1 - v0)
        addSpan(s"views-$repNo", "workload", "io_views", "Io.views", v0, v1)
      }
      val (mb0, n0) = storage()
      val r0 = System.nanoTime()
      checkNs = 0L
      val qs = a.queries.map(q => runQuery(q, repSpan, traced))
      val r1 = System.nanoTime()
      if (traced) {
        addSpan(repSpan, "workload", "repetition", repSpan, r0, r1)
        tap.settle()
        sc.removeSparkListener(tap)
      }
      val (mb1, n1) = storage()
      val heapMb = liveHeapMb()
      val diskMb = sc.getRDDStorageInfo.map(_.diskSize).sum / 1048576.0
      reps += obj("rep" -> repNo.toString, "span" -> str(repSpan),
        "traced" -> traced.toString, "wall_s" -> num((r1 - r0 - checkNs) / 1e9),
        "retained_mb" -> num(heapMb + diskMb),
        "persisted_mb_before" -> num(mb0), "persisted_mb_after" -> num(mb1),
        "persisted_rdds_before" -> n0.toString, "persisted_rdds_after" -> n1.toString,
        "io_views_ms" -> num(viewsMs), "queries" -> arr(qs))
      i += 1
    }

    graft.ops.Q.releaseSession(spark)
    if (a.trace) addSpan("workload", "", "workload", "workload", nanoBase, System.nanoTime())
    spark.stop()
    val env = obj(
      "cores" -> cores.toString,
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> str(org.apache.spark.SPARK_VERSION),
      "java_version" -> str(System.getProperty("java.version")),
      "jvm_locale" -> str(Locale.getDefault.toString))
    val traceJson = if (!a.trace) "null" else {
      obj("spans" -> arr(spans.asScala.toSeq.sortBy(_.start).map(s => obj(
        "id" -> str(s.id), "parent" -> str(s.parent), "kind" -> str(s.kind),
        "name" -> str(s.name), "start" -> num(s.start), "end" -> num(s.end)))),
        "spark" -> tap.json())
    }
    val outJson = obj("env" -> env, "setup_s" -> num(setupS), "warmup" -> arr(warm),
      "reps" -> arr(reps), "trace" -> traceJson)
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      outJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
