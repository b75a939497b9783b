package graft

import graft.io.Io
import graft.streaming.Streams
import graft.streaming.Streams.{Ev, EwmaOut, Media, UserCount}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Arbitrary stateful processing (flatMapGroupsWithState) and the typed
  * multimodal decode pipeline.
  */
class StatefulSpec extends AnyFunSuite {
  import TestSpark._

  private def runningCountsParity(queryName: String): Unit = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val evs = Io.events(spark, sf)
      .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val (first, second) = evs.splitAt(evs.size / 2)
    val mem = MemoryStream[Ev]
    val q = Streams.runningUserCounts(mem.toDS()).writeStream
      .format("memory").queryName(queryName).outputMode(OutputMode.Update()).start()
    try {
      mem.addData(first); q.processAllAvailable()
      mem.addData(second); q.processAllAvailable()
    } finally q.stop()
    // last update per user == total events per user
    val streamed = spark.table(queryName).as[UserCount].collect()
      .groupBy(_.user_id).view.mapValues(_.map(_.n).max).toMap
    val batch = evs.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    assert(streamed === batch)
  }

  test("flatMapGroupsWithState running counts converge to batch counts") {
    runningCountsParity("rc")
  }

  test("flatMapGroupsWithState counts hold under the RocksDB state store") {
    // the bounded-memory state story for 100 TB streaming: HDFS-backed
    // in-memory state (the default provider) holds every key's state on
    // heap, while RocksDB spills to local disk with an LRU block cache —
    // the provider a long-running production job with millions of keys
    // actually runs. Same scenario, same parity assertion: the state
    // store is an implementation detail the semantics must not see.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runningCountsParity("rc_rocksdb")
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("RocksDB changelog checkpointing: parity + state-store metrics surface") {
    // The production streaming surface r11 left unexercised: changelog
    // checkpointing (per-batch delta files instead of full RocksDB
    // snapshot uploads — the low-latency-commit mode a long-running
    // job runs) plus the observability contract: state-store memory
    // and commit latency must be readable from StreamingQueryProgress
    // alone, because that is what a production monitor scrapes.
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val savedP = spark.conf.getOption(provider)
    val savedC = spark.conf.getOption(changelog)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelog, "true")
    try {
      val evs = Io.events(spark, sf)
        .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
        .as[Ev].collect().toSeq
      val (first, second) = evs.splitAt(evs.size / 2)
      val mem = MemoryStream[Ev]
      val q = Streams.runningUserCounts(mem.toDS()).writeStream
        .format("memory").queryName("rc_changelog")
        .outputMode(OutputMode.Update()).start()
      try {
        mem.addData(first); q.processAllAvailable()
        mem.addData(second); q.processAllAvailable()
        val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
        assert(progress.nonEmpty, "no progress with state operators")
        val so = progress.last.stateOperators.head
        val batchUsers = evs.map(_.user_id).distinct.size.toLong
        assert(so.numRowsTotal === batchUsers,
          s"state rows ${so.numRowsTotal} != $batchUsers distinct users")
        assert(so.commitTimeMs >= 0L, "commit latency not surfaced")
        import scala.jdk.CollectionConverters._
        val cm = so.customMetrics.asScala
        assert(cm.keys.exists(_.startsWith("rocksdb")),
          s"no rocksdb metrics among ${cm.keys.toSeq.sorted}")
        val memKeys = cm.keys.filter(k =>
          k.startsWith("rocksdb") && k.toLowerCase.contains("memory"))
        assert(memKeys.nonEmpty && memKeys.forall(k => cm(k) >= 0L),
          s"rocksdb memory usage not surfaced; rocksdb metrics = " +
            cm.keys.filter(_.startsWith("rocksdb")).toSeq.sorted)
      } finally q.stop()
      val streamed = spark.table("rc_changelog").as[UserCount].collect()
        .groupBy(_.user_id).view.mapValues(_.map(_.n).max).toMap
      val batch = evs.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      assert(streamed === batch)
    } finally {
      savedP.fold(spark.conf.unset(provider))(spark.conf.set(provider, _))
      savedC.fold(spark.conf.unset(changelog))(spark.conf.set(changelog, _))
    }
  }

  test("transformWithState activity summary converges to batch aggregates (RocksDB)") {
    // Spark 4's typed-state-variable API; requires the RocksDB provider
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = Io.events(spark, sf)
        .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
        .as[Ev].collect().toSeq
      val (first, second) = evs.splitAt(evs.size / 2)
      val mem = MemoryStream[Ev]
      val q = Streams.userActivityTws(mem.toDS()).writeStream
        .format("memory").queryName("tws").outputMode(OutputMode.Update()).start()
      try {
        mem.addData(first); q.processAllAvailable()
        mem.addData(second); q.processAllAvailable()
      } finally q.stop()
      // last update per user == the batch per-user aggregate (all the
      // tracked quantities are order-independent, so the two-batch
      // split must not be visible in the final rows)
      val streamed = spark.table("tws").as[Streams.UserActivity].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.n)).toMap
      val batch = evs.groupBy(_.user_id).map { case (u, es) =>
        u -> Streams.UserActivity(u, es.size.toLong, es.map(_.value).min,
          es.map(_.value).max, es.map(_.ts_us).max)
      }
      assert(streamed === batch)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("transformWithState event-time timers close sessions at the watermark (RocksDB)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = Io.events(spark, sf).filter("user_id < 30")
        .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
        .as[Ev].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
      val (first, second) = evs.splitAt(evs.size / 2)
      // the flush event advances the global watermark far past every
      // real session's close time, so every open session's TIMER fires
      val flush = Ev(900001L, evs.map(_.ts_us).max + 10L * 3600000000L,
        999999L, "click", 0.0)
      val mem = MemoryStream[Ev]
      val q = Streams.sessionizeTws(mem.toDS()).writeStream
        .format("memory").queryName("twssess").outputMode(OutputMode.Append()).start()
      try {
        mem.addData(first); q.processAllAvailable()
        mem.addData(second); q.processAllAvailable()
        mem.addData(flush); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("twssess")
        .as[Streams.SessionOut].collect().filter(_.user_id < 900000L).toSet
      // batch oracle: per-user gap-split sessionization in plain Scala
      val gap = 30L * 60 * 1000000
      val expected = evs.groupBy(_.user_id).flatMap { case (u, es) =>
        val ts = es.map(_.ts_us).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[Streams.SessionOut]
        var start = ts.head; var last = ts.head; var n = 1L
        ts.tail.foreach { t =>
          if (t - last <= gap) { last = t; n += 1 }
          else { sessions += Streams.SessionOut(u, start, last, n)
                 start = t; last = t; n = 1 }
        }
        sessions += Streams.SessionOut(u, start, last, n)
        sessions
      }.toSet
      assert(streamed === expected)
      assert(streamed.nonEmpty)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("checkpoint recovery: stop mid-stream, restart, exactly-once output (RocksDB)") {
    // The fault-tolerance story a 100 TB pipeline actually relies on:
    // a stateful query dies after batch N, a NEW query instance starts
    // from the same checkpoint dir, the remaining batches arrive, and
    // the file sink holds exactly the uninterrupted run's rows — no
    // loss, no duplicates. The kill point lands INSIDE open sessions
    // (time-ordered thirds), so sessions spanning the restart can only
    // come out whole if the timer/state really was restored from the
    // RocksDB checkpoint rather than rebuilt empty.
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = Io.events(spark, sf).filter("user_id < 30")
        .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
        .as[Ev].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
      val third = evs.size / 3
      val (b1, rest) = evs.splitAt(third)
      val (b2, b3) = rest.splitAt(third)
      val flush = Ev(900001L, evs.map(_.ts_us).max + 10L * 3600000000L,
        999999L, "click", 0.0)
      // reference: the same batches, uninterrupted
      val memRef = MemoryStream[Ev]
      val qRef = Streams.sessionizeTws(memRef.toDS()).writeStream
        .format("memory").queryName("ckref").outputMode(OutputMode.Append()).start()
      try {
        Seq(b1, b2, b3, Seq(flush)).foreach { b =>
          memRef.addData(b); qRef.processAllAvailable()
        }
      } finally qRef.stop()
      val reference = spark.table("ckref").as[Streams.SessionOut]
        .collect().filter(_.user_id < 900000L)
      // interrupted run: parquet sink (exactly-once via the sink commit
      // log) + explicit checkpoint dir shared across both incarnations
      val root = java.nio.file.Paths.get(TestSpark.tempDir("graft_ckpt"))
      val outDir = root.resolve("out").toString
      val ckptDir = root.resolve("ckpt").toString
      val mem = MemoryStream[Ev]
      def start() = Streams.sessionizeTws(mem.toDS()).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      try {
        mem.addData(b1); q1.processAllAvailable()
        mem.addData(b2); q1.processAllAvailable()
      } finally q1.stop() // the "crash", after batch 2 of 4
      val q2 = start()    // NEW query instance, same checkpoint
      try {
        mem.addData(b3); q2.processAllAvailable()
        mem.addData(flush); q2.processAllAvailable()
      } finally q2.stop()
      val recovered = spark.read.parquet(outDir).as[Streams.SessionOut]
        .collect().filter(_.user_id < 900000L)
      assert(recovered.toSet === reference.toSet,
        "restarted run's output differs from the uninterrupted run")
      assert(recovered.length === recovered.toSet.size,
        "duplicate rows in the sink — exactly-once violated across restart")
      // the restart boundary must fall inside live sessions for the
      // state-restore claim to mean anything
      val boundary = b2.last.ts_us
      assert(reference.exists(s1 => s1.start_us <= boundary && s1.end_us > boundary),
        "no session spans the kill point — weak scenario")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("state data source: checkpointed aggregation state is readable offline") {
    // Operability at 100 TB (r14): when a stateful job misbehaves, the
    // first diagnostic is reading its STATE from the checkpoint with
    // the Spark 4 state data source — no instrumentation of the live
    // query. Contract pinned here: after a keyed streaming count runs
    // to completion, format("statestore") over the checkpoint returns
    // one row per key whose buffer value equals the sink's final count.
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val evs = Io.events(spark, sf).filter("user_id < 20")
      .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val ckpt = TestSpark.tempDir("graft_statesrc")
    val mem = MemoryStream[Ev]
    val q = mem.toDS().groupBy($"user_id").count()
      .writeStream.format("memory").queryName("ssrc")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Complete()).start()
    try { mem.addData(evs); q.processAllAvailable() } finally q.stop()
    val fromSink = spark.table("ssrc").as[(Long, Long)].collect().toMap
    val state = spark.read.format("statestore").load(ckpt)
    // schema is (key: struct, value: struct<agg buffer>, partition_id);
    // resolve the buffer's count field by type, not by its display name
    val valueFields = state.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fields
    val cntField = valueFields.collectFirst {
      case f if f.dataType == org.apache.spark.sql.types.LongType => f.name
    }.getOrElse(fail(s"no long field in state value: ${valueFields.mkString(",")}"))
    val fromState = state
      .select(col("key").getField("user_id").as("u"),
        col("value").getField(cntField).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(fromState === fromSink,
      "offline state read disagrees with the sink's final counts")
    assert(fromState.nonEmpty && fromState.keys.forall(_ < 20))
  }

  test("stateful streaming EWMA equals the batch g_ewma query") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // time-ordered feed split across two micro-batches (per-batch sort
    // handles intra-batch order; cross-batch lateness is out of scope)
    val evs = Io.events(spark, sf).filter("user_id < 20")
      .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
    val (first, second) = evs.splitAt(evs.size / 2)
    val mem = MemoryStream[Ev]
    val q = Streams.ewmaPerUser(mem.toDS()).writeStream
      .format("memory").queryName("ewma").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(first); q.processAllAvailable()
      mem.addData(second); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma").as[EwmaOut].collect()
      .map(o => (o.user_id, o.event_id, o.ts_us, o.ewma)).sorted.toSeq
    val batch = Registry.queries("g_ewma")(spark, sf)
      .selectExpr("user_id", "event_id", "ts_us", "ewma").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(streamed == batch)
  }

  test("typed mapPartitions media decode produces stable metadata") {
    import spark.implicits._
    val media = Io.table(spark, sf, "documents")
      .limit(50)
      .selectExpr("doc_id", "CAST(text AS BINARY) AS media")
      .as[Media]
    val metas = Streams.decodeMedia(media).collect()
    assert(metas.length === 50)
    val texts = Io.table(spark, sf, "documents").limit(50)
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    metas.foreach { m =>
      val t = texts(m.doc_id)
      assert(m.n_bytes === t.getBytes("UTF-8").length)
      assert(m.width === 32 + m.n_bytes % 608)
      val ck = t.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % 4294967296L)
      assert(m.checksum === ck)
    }
  }

  test("approx_count_distinct stays within 10% of exact") {
    val approx = Registry.queries("d_agg_approx_hll")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Registry.queries("d_agg_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex < 0.10, s"$k: approx $ap vs exact $ex")
    }
  }

  test("approx_percentile lands within tolerance of the exact percentile") {
    import org.apache.spark.sql.functions._
    val li = Io.table(spark, sf, "lineitem")
    val r = li.agg(
      expr("approx_percentile(l_quantity, 0.5, 1000)").as("appx"),
      expr("percentile(l_quantity, 0.5)").as("exact")).collect().head
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 2.0)
  }

  test("builtin stddev/corr agree with the exact-decimal formulation") {
    import org.apache.spark.sql.functions._
    val li = Io.table(spark, sf, "lineitem")
    val perFlag = Registry.queries("d_agg_stats")(spark, sf).collect()
    perFlag.foreach { r =>
      val flag = r.getString(0)
      val b = li.filter(col("l_returnflag") === flag)
        .agg(stddev_samp(col("l_extendedprice"))).collect().head.getDouble(0)
      assert(math.abs(b - r.getDouble(2)) < 0.01, s"$flag: builtin $b vs decimal ${r.getDouble(2)}")
    }
  }
}
