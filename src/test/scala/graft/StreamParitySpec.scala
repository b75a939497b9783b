package graft

import graft.io.Io
import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Stream-batch parity (SURVEY.md §5.4): the Structured Streaming twins
  * must produce exactly the batch results when fed the same rows through
  * a MemoryStream.
  */
class StreamParitySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val evRows: Seq[Ev] = {
    import spark.implicits._
    Io.events(spark, sf)
      .selectExpr("event_id", "ts_us", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
  }

  private def eventsDf: DataFrame = {
    import spark.implicits._
    evRows.toDF()
  }

  /** run a streaming transform of a MemoryStream fed with all events. */
  private def runStream(name: String, mode: OutputMode)(f: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evRows)
    val q = f(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("tumbling 1h window: stream == batch") {
    val stream = runStream("t1h", OutputMode.Complete())(Streams.tumbling1h)
    val batch = Streams.tumbling1h(eventsDf)
    assert(rows(stream) === rows(batch))
  }

  test("sliding 1h/15m window: stream == batch") {
    val stream = runStream("s1h15", OutputMode.Complete())(Streams.sliding1h15m)
    val batch = Streams.sliding1h15m(eventsDf)
    assert(rows(stream) === rows(batch))
  }

  test("session_window(30m): stream == batch lag+cumsum sessionization") {
    val stream = runStream("sess", OutputMode.Complete())(Streams.session30m)
    // the relational batch twin from the checked inventory
    val batch = Registry.queries("g_session_30m")(spark, sf)
      .select("user_id", "n_events", "sess_start_us", "sess_end_us")
    assert(rows(stream) === rows(batch))
  }

  test("hourly OHLC bars: stream min_by/max_by == batch row_number windows") {
    val stream = runStream("ohlc", OutputMode.Complete())(Streams.ohlc1h)
    // the checked batch query derives open/close via asc/desc
    // row_number with the same (ts_us, event_id) tie-break
    val batch = Registry.queries("g_ohlc")(spark, sf)
      .select("event_type", "hour_us", "open", "high", "low", "close", "n_ticks")
    assert(rows(stream) === rows(batch))
  }

  test("dropDuplicatesWithinWatermark: stream keys == batch dedup keys") {
    val stream = runStream("dedup", OutputMode.Append())(Streams.dedupWithinWatermark)
    val batch = Registry.queries("g_stream_dedup")(spark, sf)
    // streaming dedup keeps the FIRST ARRIVAL (arrival order, not event
    // time) — parity holds on the key set, not the representative row.
    assert(rows(stream.select("user_id", "event_type")) ===
      rows(batch.select("user_id", "event_type")))
  }

  test("stream-static join enrich: stream == batch") {
    val nation = Io.table(spark, sf, "nation")
    val stream = runStream("enrich", OutputMode.Append())(df => Streams.staticEnrich(df, nation))
    val batch = Streams.staticEnrich(eventsDf, nation)
    assert(rows(stream) === rows(batch))
  }

  test("streaming ingest filter: anti-join history + self-dedup == batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import Streams.Doc
    val docRows = Io.table(spark, sf, "documents")
      .selectExpr("doc_id", "lang", "text").as[Doc].collect().toSeq
    val (hist, inc) = docRows.partition(_.doc_id % 10 < 8)
    val histDigests = hist.toDF()
      .select(org.apache.spark.sql.functions
        .sha2(org.apache.spark.sql.functions.expr("TRIM(LOWER(text))"), 256).as("eh"))
      .distinct()
    val mem = MemoryStream[Doc]
    mem.addData(inc)
    val q = Streams.ingestFilter(mem.toDF(), histDigests)
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("ingest")
    val batch = Streams.ingestFilter(inc.toDF(), histDigests)
    // dropDuplicates picks an arbitrary representative per digest on
    // both engines — parity holds on the surviving digest set.
    assert(rows(stream.select("eh")) === rows(batch.select("eh")))
    assert(stream.count() > 0)
    // survivors must also agree with the checked batch query's 'keep'
    // verdicts on the exact tier: every kept digest is absent from
    // history (sanity — the anti-join actually filtered).
    val histSet = histDigests.as[String].collect().toSet
    val kept = stream.select("eh").as[String].collect()
    assert(kept.forall(e => !histSet.contains(e)))
  }

  test("incremental near-dedup: micro-batched increment == checked batch row") {
    // The streaming freshness twin of h_incremental_dedup (r14 VERDICT
    // item 7): the increment arrives in TWO micro-batches; each batch
    // gets its exact/near/keep verdicts against the static history via
    // DedupOps.incrementalStatus (digest equi-join + banded-MinHash
    // candidates verified at Jaccard >= 0.9) inside foreachBatch — the
    // daily-ingest shape, where verdicts depend only on history, so
    // the union over micro-batches must equal the checked batch query
    // row for row.
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import Streams.Doc
    val docs = Io.table(spark, sf, "documents")
      .selectExpr("doc_id", "lang", "text").as[Doc].collect().toSeq
    val (hist, inc) = docs.partition(_.doc_id % 10 < 8)
    val histDf = hist.toDF()
    val mem = MemoryStream[Doc]
    val sink = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = mem.toDF().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val out = graft.ops.DedupOps
          .incrementalStatus(spark, b, histDf).collect()
        sink.synchronized { sink ++= out.map(_.toSeq) }
        ()
      }
      .start()
    val (i1, i2) = inc.splitAt(inc.size / 2)
    try {
      mem.addData(i1); q.processAllAvailable()
      mem.addData(i2); q.processAllAvailable()
    } finally q.stop()
    val checked = Registry.queries("h_incremental_dedup")(spark, sf)
      .collect().map(_.toSeq)
    assert(sink.nonEmpty && sink.size === inc.size)
    assert(sink.sortBy(_.head.asInstanceOf[Long]).toSeq ===
      checked.sortBy(_.head.asInstanceOf[Long]).toSeq)
  }

  test("checkpointed file sink is exactly-once across a query restart") {
    // the production restart story: offsets live in the checkpoint, the
    // parquet sink commits atomically per batch — stop the query midway,
    // start a NEW query over the same checkpoint, and the sink must hold
    // every event exactly once (no loss from the stop, no duplicates
    // from the restart).
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val outDir = TestSpark.tempDir("graft_ckpt_out")
    val ckptDir = TestSpark.tempDir("graft_ckpt_meta")
    val (first, second) = evRows.splitAt(evRows.size / 2)
    val mem = MemoryStream[Ev]
    def start() = mem.toDF()
      .selectExpr("event_id", "user_id", "event_type", "value")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append()).start()
    mem.addData(first)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    mem.addData(second)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val sunk = spark.read.parquet(outDir)
    assert(sunk.count() === evRows.size.toLong, "events lost or duplicated across restart")
    assert(sunk.select("event_id").distinct().count() === evRows.size.toLong)
  }

  test("foreachBatch idempotent sink: batchId-keyed overwrite survives replay") {
    // foreachBatch is the escape hatch for sinks without native
    // exactly-once support, and its documented contract is AT-LEAST-ONCE:
    // after a crash between the sink write and the checkpoint commit,
    // the same (batchId, data) is delivered again. The production
    // pattern is to key the write on batchId so a redelivery overwrites
    // its own previous attempt instead of appending a duplicate.
    // Simulate the redelivery explicitly: run the stream, then invoke
    // the writer AGAIN with batch 0's exact payload and id, and assert
    // the sink still holds every event exactly once.
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val outDir = TestSpark.tempDir("graft_feb_out")
    val ckptDir = TestSpark.tempDir("graft_feb_ckpt")
    def write(df: DataFrame, batchId: Long): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    val (first, second) = evRows.splitAt(evRows.size / 2)
    val mem = MemoryStream[Ev]
    mem.addData(first)
    val q = mem.toDF().selectExpr("event_id", "user_id", "value")
      .writeStream.foreachBatch(write _)
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    mem.addData(second)
    try q.processAllAvailable() finally q.stop()
    // redelivery of batch 0: same payload, same id — idempotent by key
    write(first.toDF().selectExpr("event_id", "user_id", "value"), 0L)
    val sunk = spark.read.parquet(outDir)
    assert(sunk.count() === evRows.size.toLong,
      "redelivered batch duplicated or lost rows in the sink")
    assert(sunk.select("event_id").distinct().count() === evRows.size.toLong)
    // the partition column read back is the batch id the writer keyed on
    assert(sunk.select("batch_id").distinct().count() >= 1L)
  }

  test("count-min sketch builds incrementally: streaming CMS == batch CMS") {
    // the CMS is a mergeable summary — its (r, c) counters are plain
    // counts, so the same groupBy maintains it incrementally over a
    // stream (update/complete mode) and the result must equal the
    // batch build d_agg_cms_freq runs. This is the property that lets
    // a 100 TB pipeline keep a frequency summary with bounded state.
    import org.apache.spark.sql.functions._
    def cmsBuild(df: DataFrame): DataFrame = df
      .select(col("user_id"), explode(sequence(lit(0), lit(3))).as("r"))
      .select(col("r"), expr(
        "CAST((CAST((user_id + r * 1000003) AS DECIMAL(38,0)) * 2654435761) " +
          "% 4294967296 AS BIGINT) % 1024").as("c"))
      .groupBy("r", "c").count()
    val stream = runStream("cms", OutputMode.Complete())(cmsBuild)
    val batch = cmsBuild(eventsDf)
    assert(rows(stream) === rows(batch))
  }

  test("Trigger.AvailableNow drains pending data, stops, and resumes incrementally") {
    // the scheduled-incremental-ingest pattern: each invocation
    // processes exactly the data that arrived since the last one
    // (offsets live in the checkpoint), then self-terminates — the
    // batch-orchestrated alternative to a long-running query. Two
    // invocations over a growing source must produce every event
    // exactly once, with the second reading ONLY the new rows.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    implicit val sql = spark.sqlContext
    val outDir = TestSpark.tempDir("graft_an_out")
    val ckptDir = TestSpark.tempDir("graft_an_ckpt")
    val (first, second) = evRows.splitAt(evRows.size / 2)
    val mem = MemoryStream[Ev]
    def runOnce(): Unit = {
      val q = mem.toDF().selectExpr("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Append()).start()
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    }
    mem.addData(first)
    runOnce()
    assert(spark.read.parquet(outDir).count() === first.size.toLong)
    mem.addData(second)
    runOnce()
    val sunk = spark.read.parquet(outDir)
    assert(sunk.count() === evRows.size.toLong,
      "second invocation re-read old offsets or dropped new ones")
    assert(sunk.select("event_id").distinct().count() === evRows.size.toLong)
  }

  test("rate-micro-batch source: deterministic unbounded-source ingestion, drain + resume") {
    // The EXTERNAL-source ingestion shape (not a file listing, not a
    // MemoryStream): an unbounded generator source drained in bounded
    // Trigger.AvailableNow invocations with offsets in the checkpoint —
    // the same operational pattern as a Kafka topic consumed by a
    // scheduled job. rate-micro-batch is the deterministic stand-in:
    // value is a global row sequence and timestamp is a pure function
    // of it (startTimestamp + (value DIV rowsPerBatch) ·
    // advanceMillisPerBatch, no wall clock), so EVERY drained row is
    // assertable even though the number of drained batches is the
    // scheduler's choice. Asserts: batch-aligned drain, gap-free
    // exactly-once value sequence from 0, the timestamp law on every
    // row, and checkpointed resume continuing the sequence.
    import org.apache.spark.sql.streaming.Trigger
    val outDir = TestSpark.tempDir("graft_rate_out")
    val ckptDir = TestSpark.tempDir("graft_rate_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("startTimestamp", 0L)
        .option("advanceMillisPerBatch", 1000)
        .load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Append()).start()
      assert(q.awaitTermination(120000),
        "rate-micro-batch AvailableNow drain did not self-terminate")
    }
    def checkLaw(): Long = {
      val sunk = spark.read.parquet(outDir)
      val n = sunk.count()
      assert(n > 0, "drain produced no rows")
      assert(n % 50 === 0, s"drain not batch-aligned: $n rows")
      // exactly-once + gap-free: values are exactly 0..n-1
      assert(sunk.select("value").distinct().count() === n)
      assert(sunk.agg(org.apache.spark.sql.functions.min("value"),
        org.apache.spark.sql.functions.max("value")).head.toSeq ===
        Seq(0L, n - 1))
      // the deterministic timestamp law on every row
      val lawBreaks = sunk.filter(
        org.apache.spark.sql.functions.expr(
          "unix_millis(timestamp) != (value DIV 50) * 1000")).count()
      assert(lawBreaks === 0L, s"$lawBreaks rows broke the timestamp law")
      n
    }
    drain()
    val n1 = checkLaw()
    drain()
    val n2 = checkLaw()
    assert(n2 > n1, "checkpointed resume did not continue the sequence")
  }

  test("stream-stream time-bounded join: stream == batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val purchases = evRows.filter(_.event_type == "purchase")
    val clicks = evRows.filter(_.event_type == "click")
    val memP = MemoryStream[Ev]; val memC = MemoryStream[Ev]
    memP.addData(purchases); memC.addData(clicks)
    val q = Streams.purchaseClickJoin(memP.toDF(), memC.toDF())
      .writeStream.format("memory").queryName("ssj").outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("ssj")
    val batch = Streams.purchaseClickJoin(purchases.toDF(), clicks.toDF())
    assert(rows(stream) === rows(batch))
    assert(stream.count() > 0)
  }

  test("stream-stream LEFT OUTER join: null-matched rows emit after the watermark passes") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val purchases = evRows.filter(_.event_type == "purchase")
    val clicks = evRows.filter(_.event_type == "click")
    // outer rows only emit once the watermark proves their join window
    // closed — push it past every real row with one far-future event on
    // each side (filtered back out of the comparison by id)
    val flushUs = evRows.map(_.ts_us).max + 10L * 3600000000L
    val flushP = Ev(900001L, flushUs, 999999L, "purchase", 0.0)
    val flushC = Ev(900002L, flushUs, 999998L, "click", 0.0)
    val memP = MemoryStream[Ev]; val memC = MemoryStream[Ev]
    memP.addData(purchases); memC.addData(clicks)
    val q = Streams.purchaseClickLeftOuter(memP.toDF(), memC.toDF())
      .writeStream.format("memory").queryName("ssoj").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      memP.addData(flushP); memC.addData(flushC)
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("ssoj").filter($"p_id" < 900000L)
    val batch = Streams.purchaseClickLeftOuter(purchases.toDF(), clicks.toDF())
    assert(rows(stream) === rows(batch))
    assert(stream.filter($"c_id".isNull).count() > 0,
      "no null-matched outer rows — the outer semantics were never exercised")
  }

  test("stream-stream RIGHT OUTER join: unmatched clicks emit after the watermark passes") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val purchases = evRows.filter(_.event_type == "purchase")
    val clicks = evRows.filter(_.event_type == "click")
    val flushUs = evRows.map(_.ts_us).max + 10L * 3600000000L
    val flushP = Ev(900001L, flushUs, 999999L, "purchase", 0.0)
    val flushC = Ev(900002L, flushUs, 999998L, "click", 0.0)
    val memP = MemoryStream[Ev]; val memC = MemoryStream[Ev]
    memP.addData(purchases); memC.addData(clicks)
    val q = Streams.purchaseClickRightOuter(memP.toDF(), memC.toDF())
      .writeStream.format("memory").queryName("ssroj").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      memP.addData(flushP); memC.addData(flushC)
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("ssroj")
      .filter($"c_id" < 900000L && (($"p_id" < 900000L) || $"p_id".isNull))
    val batch = Streams.purchaseClickRightOuter(purchases.toDF(), clicks.toDF())
    assert(rows(stream) === rows(batch))
    assert(stream.filter($"p_id".isNull).count() > 0,
      "no null-purchase rows — the click-side outer semantics were never exercised")
  }

  test("stream-stream FULL OUTER join: both unmatched sides emit after the watermark passes") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val purchases = evRows.filter(_.event_type == "purchase")
    val clicks = evRows.filter(_.event_type == "click")
    // push the watermark past every real row's join window on BOTH
    // sides so every unmatched purchase AND unmatched click must emit
    val flushUs = evRows.map(_.ts_us).max + 10L * 3600000000L
    val flushP = Ev(900001L, flushUs, 999999L, "purchase", 0.0)
    val flushC = Ev(900002L, flushUs, 999998L, "click", 0.0)
    val memP = MemoryStream[Ev]; val memC = MemoryStream[Ev]
    memP.addData(purchases); memC.addData(clicks)
    val q = Streams.purchaseClickFullOuter(memP.toDF(), memC.toDF())
      .writeStream.format("memory").queryName("ssfoj").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      memP.addData(flushP); memC.addData(flushC)
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("ssfoj")
      .filter((($"p_id" < 900000L) || $"p_id".isNull) &&
        (($"c_id" < 900000L) || $"c_id".isNull))
    val batch = Streams.purchaseClickFullOuter(purchases.toDF(), clicks.toDF())
    assert(rows(stream) === rows(batch))
    assert(stream.filter($"c_id".isNull).count() > 0,
      "no null-click rows — the purchase-side outer semantics were never exercised")
    assert(stream.filter($"p_id".isNull).count() > 0,
      "no null-purchase rows — the click-side outer semantics were never exercised")
  }

  test("stream-stream LEFT SEMI join: converting clicks emit once, non-converting never") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val purchases = evRows.filter(_.event_type == "purchase")
    val clicks = evRows.filter(_.event_type == "click")
    // a semi row may be held until the watermark proves its window is
    // done (the engine must know no LATER duplicate emit is possible) —
    // flush like the outer tests
    val flushUs = evRows.map(_.ts_us).max + 10L * 3600000000L
    val flushP = Ev(900001L, flushUs, 999999L, "purchase", 0.0)
    val flushC = Ev(900002L, flushUs, 999998L, "click", 0.0)
    val memC = MemoryStream[Ev]; val memP = MemoryStream[Ev]
    memC.addData(clicks); memP.addData(purchases)
    val q = Streams.clickPurchaseSemi(memC.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("sssemi").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      memC.addData(flushC); memP.addData(flushP)
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("sssemi").filter($"c_id" < 900000L)
    val batch = Streams.clickPurchaseSemi(clicks.toDF(), purchases.toDF())
    assert(rows(stream) === rows(batch))
    // semi must not multiply output on multi-purchase matches
    assert(stream.count() === stream.select($"c_id").distinct().count(),
      "semi join emitted a click more than once")
    assert(stream.count() > 0 && stream.count() < clicks.size,
      "semi join did not discriminate: every (or no) click converted")
  }

  test("stateful last-touch attribution: stream == checked batch query") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // two time-ordered batches (the stateful twin's documented feed
    // contract) so the click state must SURVIVE a micro-batch boundary:
    // split exactly between a known credited click and its purchase so
    // a batch-2 purchase provably credits a batch-1 click
    val batchRows = Registry.queries("g_attribution_last_touch")(spark, sf)
      .select("user_id", "purch_id", "click_id", "lag_us").collect()
    val pivot = batchRows.filter(_.getLong(3) > 0).maxBy(_.getLong(3))
    val pTs = evRows.find(_.event_id == pivot.getLong(1)).get.ts_us
    val ordered = evRows
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .sortBy(e => (e.ts_us, e.event_id))
    val (b1, b2) = ordered.partition(_.ts_us < pTs)
    val mem = MemoryStream[Ev]
    val q = Streams.lastTouchAttribution(mem.toDS())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(b1)
      q.processAllAvailable()
      mem.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("attr")
    val batch = Registry.queries("g_attribution_last_touch")(spark, sf)
      .select("user_id", "purch_id", "click_id", "lag_us")
    assert(rows(stream) === rows(batch))
    assert(stream.count() > 0)
    // the state bound actually bit: batch-2 purchases must have credited
    // at least one batch-1 click for the boundary to be exercised
    val b1Clicks = b1.filter(_.event_type == "click").map(_.event_id).toSet
    val b2Purch = b2.filter(_.event_type == "purchase").map(_.event_id).toSet
    val crossBoundary = stream.collect()
      .count(r => b2Purch(r.getLong(1)) && b1Clicks(r.getLong(2)))
    assert(crossBoundary > 0, "no batch-2 purchase credited a batch-1 click")
  }

  test("attribution state eviction: clicks behind the 1h bound are gone " +
    "when a late batch regresses behind max event time") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // r6 verdict stretch #7: exercise the flatMapGroupsWithState state
    // BOUND, not just its survival. Batch 1 stores two clicks; batch 2
    // advances event time 2 h, pushing both behind the 1 h attribution
    // bound (state eviction); batch 3 is LATE — a purchase 15 min after
    // the evicted clicks that would credit one of them under unbounded
    // state. The contract (state = clicks within 1 h of max event time
    // seen) says the late purchase finds nothing, while a fresh
    // purchase still credits the surviving click — both asserted.
    val base = 1_000_000_000_000L // epoch micros
    val u = 7L
    val c1 = Ev(101L, base, u, "click", 0.0)
    val c2 = Ev(102L, base + 600_000_000L, u, "click", 0.0) // +10 min
    val c3 = Ev(103L, base + 7_200_000_000L, u, "click", 0.0) // +2 h
    val pLate = Ev(201L, base + 900_000_000L, u, "purchase", 1.0) // +15 min
    val pFresh = Ev(202L, base + 7_500_000_000L, u, "purchase", 1.0) // +2 h 5 min
    val mem = MemoryStream[Ev]
    val q = Streams.lastTouchAttribution(mem.toDS())
      .writeStream.format("memory").queryName("attr_evict")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Seq(c1, c2))
      q.processAllAvailable()
      mem.addData(Seq(c3)) // max event time jumps to base+2h → c1,c2 evicted
      q.processAllAvailable()
      mem.addData(Seq(pLate, pFresh)) // late row regresses behind max ts
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("attr_evict").as[Streams.Attr].collect().toSeq
    assert(!out.exists(_.purch_id == 201L),
      "late purchase credited an evicted click — the 1h state bound leaked")
    assert(out === Seq(Streams.Attr(u, 202L, 103L, 300_000_000L)),
      s"fresh purchase should credit the surviving click exactly once: $out")
  }

  test("watermark drops events later than the watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    val base = 1704067200000000L // 2024-01-01T00:00Z in micros
    val hour = 3600000000L
    def ev(id: Long, us: Long) = Ev(id, us, 1L, "click", 1.0)
    val q = Streams.tumbling1h(mem.toDF()).writeStream
      .format("memory").queryName("late").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(ev(1, base), ev(2, base + 2 * hour)) // watermark → 01:00
      q.processAllAvailable()
      mem.addData(ev(3, base + 1000L)) // window [00:00,01:00) closed — late
      q.processAllAvailable()
    } finally q.stop()
    val w0 = spark.table("late").filter($"win_us" === base).agg(Map("n" -> "max"))
    assert(w0.collect().head.getLong(0) === 1L, "late event leaked into a closed window")
  }
}
